package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.TfIdf
import graft.sources.Corpus.listDataFiles

/**
 * Structured Streaming variants of the engine's aggregations (extension
 * surface — the reference has no streaming at all, SURVEY.md §2.1).
 * Batch twins in graft.operators.Events define the expected semantics;
 * tests replay fixed rows through MemoryStream and compare.
 *
 * Scale notes: all stateful ops are keyed (shuffle-partitioned) and
 * watermarked so state is bounded — no per-key unbounded growth (the
 * reference's in-reducer HashMap anti-pattern, SURVEY.md §4, must not
 * reappear as unbounded state stores).
 */
object StreamingOps {

  /** Streaming tumbling-window stats per event_type. Watermark bounds
    * state; late rows beyond it are dropped. Append-mode compatible. */
  def hourlyTypeStats(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("value_sum"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  /** Streaming twin of `Events.downsampleOhlc` — live OHLC compaction
    * per (event_type, hour). The batch tier picks open/close through a
    * rank window; windows can't stream, but `min_by`/`max_by` over the
    * (ts, event_id) struct key CAN — they're commutative mergeable
    * aggregates, so the picks are micro-batch-order-free and equal the
    * batch tier's total-order selection by construction. Watermark
    * bounds state; append-mode emits each candle once, closed. */
  def downsampleOhlc(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("value_sum"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("value_sum"))

  /** Streaming twin of `Events.slidingTypeStats`: overlapping windows
    * advancing by `slideDuration`, watermark-bounded state, append-mode
    * safe (each window emits once when the watermark closes it). State
    * is windowDuration/slideDuration concurrent windows per type. */
  def slidingTypeStats(
      events: DataFrame,
      windowDuration: String = "1 hour",
      slideDuration: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration, slideDuration), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  /** Streaming windowed per-type value quantiles — necessarily the
    * t-digest (`percentile_approx`) tier: it is the only quantile that
    * CAN stream (exact percentile buffers each whole group; the sketch
    * is mergeable map-side, across partitions, and across triggers).
    * The batch twin is `Events.valueQuantiles(exact = false)` — the
    * q43b oracle contract bounds this sketch's error against exact.
    * Watermark-bounded per-(window, type) state, append-safe. */
  def windowedValueQuantiles(
      events: DataFrame,
      windowDuration: String = "1 hour",
      watermark: String = "2 hours",
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
      accuracy: Int = 10000): DataFrame = {
    val aggs = ps.map { p =>
      round(expr(s"percentile_approx(value, $p, $accuracy)"), 6)
        .as(s"p${math.round(p * 100)}")
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("window_start") +: col("event_type") +:
        ps.map(p => col(s"p${math.round(p * 100)}")): _*)
  }

  /** Streaming doc-word-count: same tokenizer + aggregation as the batch
    * O2/O3 path, over a stream of (doc, line). Update/complete mode. */
  def termCounts(docs: DataFrame): DataFrame =
    TfIdf.docWordCount(TfIdf.tokenize(docs))

  /**
   * Streaming windowed term counts over a (doc, line, ts) stream:
   * tumbling-window counts with the reference tokenizer, watermark-
   * bounded state, append-mode safe (each window emits once, when the
   * watermark closes it) — the term-trend twin of the complete-mode
   * running `termCounts`.
   */
  def windowedTermCounts(
      docs: DataFrame,
      windowDuration: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"),
        explode(split(col("line"), TfIdf.TokenPattern)).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(window(col("ts"), windowDuration), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("term"), col("cnt"))

  /**
   * Streaming windowed TERM FREQUENCY — the streaming tier of the
   * reference's TF stage (TermFrequency.java semantics: tf = 1 +
   * log10(count), quirk Q2) over tumbling event-time windows with the
   * O2 tokenizer. Per (window, doc, term): count + tf; append-mode safe
   * (a window's rows emit once, when the watermark closes it). A full
   * streaming TF-IDF would chain a second (window, term) aggregation for
   * df and join window-to-window; the windowed tf is the streaming unit
   * whose batch twin (TfIdf.termFrequency per window slice) defines the
   * semantics.
   */
  def windowedTermFrequency(
      docs: DataFrame,
      windowDuration: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), col("doc"),
        explode(split(col("line"), TfIdf.TokenPattern)).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(window(col("ts"), windowDuration), col("doc"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("doc"), col("term"),
        col("cnt"), round(lit(1.0) + log10(col("cnt")), 6).as("tf"))

  /**
   * Streaming TF-IDF against a STATIC df model — the production shape of
   * "streaming TF-IDF": windowed term frequencies from the stream join a
   * precomputed document-frequency snapshot (e.g. yesterday's corpus
   * model, refreshed by the batch `TfIdf` job). A fully-streaming df
   * would require joining two streaming aggregates (unsupported by the
   * engine, and semantically dubious — the idf would drift mid-window);
   * a stream-static join after the windowed aggregation is append-safe
   * and broadcastable. Score formula matches the batch quirk chain:
   * (1 + log10(cnt)) · log10(1 + floor(N / df)).
   *
   * @param dfModel static (term, df) snapshot
   * @param numDocs corpus size N behind the snapshot (idf numerator)
   */
  def windowedTfIdf(
      docs: DataFrame,
      dfModel: DataFrame,
      numDocs: Long,
      windowDuration: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    windowedTermFrequency(docs, windowDuration, watermark)
      .join(broadcast(dfModel), Seq("term"))
      .withColumn("tfidf", round(
        (lit(1.0) + log10(col("cnt"))) *
          log10(lit(1.0) + floor(lit(numDocs) / col("df"))), 6))
      .select(col("window_start"), col("doc"), col("term"), col("cnt"),
        col("tf"), col("tfidf"))

  /**
   * Streaming SEARCH against a static materialized index — the
   * query-serving shape: a stream of (query_id, query_text, ts) rows
   * scored against a precomputed (term, doc, tfidf) score frame
   * ([[graft.operators.Search.buildIndex]] read back, or any static
   * equivalent). Row-local reference tokenization, a stream-static
   * equi-join on term, then a watermark-bounded windowed aggregation
   * per (query_id, doc) — append-safe; state is bounded by in-flight
   * windows. Duplicated query tokens double-count (the reference's Q7
   * multiset parity — Search.java:230); dedupe upstream for distinct
   * semantics (a streaming `dropDuplicates` here would add a state
   * store per token). At scale point the static side at the BUCKETED
   * index table (`Corpus.writeBucketedTable` on term) so per-batch
   * joins never re-shuffle the index.
   *
   * @param scoreCol the static frame's score column — "tfidf" for a
   *        read-back `Search.buildIndex`, "score" for a persisted
   *        `Search.bm25Scores` frame
   * @return (window_start, query_id, doc, score)
   */
  def searchStream(
      queries: DataFrame,
      index: DataFrame,
      windowDuration: String = "1 minute",
      watermark: String = "1 minute",
      scoreCol: String = "tfidf"): DataFrame =
    queries
      .withWatermark("ts", watermark)
      .select(col("query_id"), col("ts"),
        explode(split(col("query_text"), TfIdf.TokenPattern)).as("term"))
      .where(length(col("term")) > 0)
      .join(index, Seq("term"))
      .groupBy(window(col("ts"), windowDuration), col("query_id"), col("doc"))
      .agg(round(sum(col(scoreCol)), 6).as("score"))
      .select(col("window.start").as("window_start"),
        col("query_id"), col("doc"), col("score"))

  /**
   * Stream-stream INTERVAL join — the q41 attribution funnel live: each
   * purchase joins the same user's clicks from the preceding `horizon`.
   * The one streaming join class the rest of the tier doesn't exercise
   * (everything else is stream ⋈ static): BOTH inputs are unbounded, so
   * correctness and bounded state come from the same two declarations —
   * a watermark on each side plus the two-sided time-range condition.
   * Spark buffers each side's rows only until its watermark passes
   * `ts + horizon`, then evicts: state is O(rows in flight inside one
   * horizon), never O(stream), and the join itself shuffle-partitions
   * both sides by `user_id` like the batch plan.
   *
   * Join types: `inner` (default — a purchase with no click inside the
   * horizon emits nothing; the batch funnel's `-1` rows are the
   * complement) or `left_outer` on the CLICK side — every click
   * eventually emits, null-padded if it never converted; Spark holds
   * the null verdict until the watermark proves no matching purchase
   * can still arrive (state expiry, not an extra buffer), so the state
   * bound is the same as inner's.
   *
   * @param clicks    streaming (event_id, user_id, ts)
   * @param purchases streaming (p_id, user_id, p_ts)
   * @return (p_id, user_id, event_id, secs_before_purchase) — p_id and
   *         secs null for unconverted clicks under `left_outer`
   */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      horizon: String = "30 minutes",
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"joinType must be inner or left_outer, got $joinType")
    val c = clicks.withWatermark("ts", watermark)
    val p = purchases
      .select(col("p_id"), col("user_id").as("p_user_id"), col("p_ts"))
      .withWatermark("p_ts", watermark)
    c.join(p,
        col("user_id") === col("p_user_id") &&
          col("ts") <= col("p_ts") &&
          col("ts") >= col("p_ts") - expr(s"INTERVAL $horizon"),
        joinType)
      .select(col("p_id"), col("user_id"), col("event_id"),
        ((unix_micros(col("p_ts")) - unix_micros(col("ts"))) / lit(1000000L))
          .cast("long").as("secs_before_purchase"))
  }

  /**
   * Streaming exact dedup over a (doc, line, ts) stream: first arrival of
   * each payload fingerprint passes, later duplicates are dropped. State
   * is the fingerprint set bounded by the watermark
   * (`dropDuplicatesWithinWatermark`) — a duplicate arriving more than
   * `watermarkDelay` after the original MAY be re-emitted; the batch twin
   * (graft.operators.Dedup.exactDedup) is the exact-once spec. Keyed on
   * the 32-byte md5, so state per retained row is O(1) and the dedup
   * shuffle partitions by fingerprint exactly like the batch plan.
   */
  def dedupExact(docs: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("fp", md5(col("line")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")

  /**
   * Streaming twin of `graft.operators.Pipeline.cleanCorpus`: exact
   * dedup (watermark-bounded state) then map-side language + quality
   * filters — the full training-data ingest loop as a continuous query.
   * The filters are stateless column expressions, so the only state is
   * the dedup fingerprint set.
   */
  def cleanStream(
      docs: DataFrame,
      langs: Seq[String],
      minQuality: Double,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.functions.TextAnalysis
    dedupExact(docs, watermarkDelay)
      .withColumn("_st", TextAnalysis.textStatsCol(col("line")))
      .withColumn("lang_pred", TextAnalysis.langPredFromStats(col("_st")))
      .withColumn("quality_score", TextAnalysis.qualityScoreFromStats(col("_st")))
      .where(col("lang_pred").isin(langs: _*) &&
        col("quality_score") >= minQuality)
      .drop("_st")
  }

  /**
   * GOPHER rule screen on an unbounded doc stream — the heuristic
   * filter battery (Rae et al. 2021) applied at ingest time, BEFORE
   * documents ever reach the batch store. The verdict is
   * [[graft.functions.TextAnalysis.gopherKeepCol]]: a single row-local
   * column expression (the top-2-gram rule included — counted
   * doc-locally over the gram array), so the screen is STATELESS —
   * no watermark, no state store, any output mode, and the stream twin
   * is the batch column by construction (parity pinned in
   * TextAnalysisSpec/StreamingSpec).
   */
  def gopherScreen(docs: DataFrame): DataFrame = {
    import graft.functions.TextAnalysis
    docs.where(TextAnalysis.gopherKeepCol(col("line")))
  }

  /**
   * Streaming twin of the q51 ingest front-half: clean (dedup + lang +
   * quality) then redact then chunk to `maxTokens`-token windows. Every
   * stage past the dedup is a stateless map/explode, so the chunked
   * stream stays append-mode with only the fingerprint state. Sequence
   * PACKING is deliberately absent: it is a prefix-sum over a bucket
   * ordering, which streams can't finalize without a window barrier —
   * pack the chunked sink in micro-batch/batch instead
   * (`Chunking.packSequences`).
   */
  def prepStream(
      docs: DataFrame,
      langs: Seq[String],
      minQuality: Double,
      maxTokens: Int = 512,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.functions.TextAnalysis
    val cleaned = cleanStream(docs, langs, minQuality, watermarkDelay)
      .select(col("doc"), TextAnalysis.redactCol(col("line")).as("line"))
    graft.operators.Chunking.chunkDocs(cleaned, maxTokens)
  }

  /**
   * Streaming incremental NEAR-dup screen — the stream-static twin of
   * `Dedup.minhashNearDupsAgainst`: each arriving document is checked
   * against a STATIC history corpus and emits (doc, hist_doc, jaccard)
   * for every history near-match (Jaccard ≥ threshold).
   *
   * Entirely STATELESS append mode — no aggregation, no watermark, no
   * state store. The trick: a streaming document is ONE row, so its
   * MinHash signature is computed row-locally with array expressions
   * (one md5 per shingle, k arithmetic minima — the batch path's
   * groupBy(doc) is unnecessary when the doc never spans rows), bands
   * join stream-static against the precomputed history bands, and the
   * per-pair band dedup is the first-matching-band filter evaluated
   * row-locally over the carried band-value columns (both sides' band
   * values ride the join row — no distinct, no state). Jaccard verifies
   * via array_intersect on the carried shingle arrays.
   *
   * At scale the static side is planned once and reused every
   * micro-batch; history band rows carry their doc's shingle array, so
   * size the history corpus (or pre-filter it) to what the join can
   * shuffle.
   *
   * HOT-BUCKET GUARD (the batch twin's contract): history buckets with
   * more than `maxBucketSize` members are excluded from the join —
   * without it one degenerate boilerplate bucket inflates EVERY
   * micro-batch. Because the history is static, the hot-bucket set is
   * resolved ONCE at operator-construction time (a driver-side
   * aggregation of bucket sizes — a plan-sizing decision of AQE's
   * magnitude, there are at most |history|/maxBucketSize hot buckets)
   * and embedded as literal prune lists: degenerate rows never reach
   * the join, and the row-local first-matching-band dedup counts only
   * SURVIVING buckets, so a pair whose first shared band was pruned
   * still emits through its first surviving band (exactly the batch
   * twin's semantics). The skipped buckets are observable via
   * [[nearDupScreenSkippedBuckets]].
   */
  def nearDupScreen(
      docs: DataFrame,
      historyDocs: DataFrame,
      n: Int = 3,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = graft.operators.Dedup.MaxPairBucket): DataFrame = {
    import graft.operators.Dedup
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")
    val nBands = numHashes / rowsPerBand

    def bandVal(prefix: String, b: Int): Column =
      concat_ws(",",
        (0 until rowsPerBand).map(i => col(s"$prefix${b * rowsPerBand + i}")): _*)

    // ── static history side: signatures via the batch path ──────────────
    val histSig = Dedup.minhashSignatures(Dedup.shingles(historyDocs, n), numHashes)
    val histWide = histSig.select(
      col("doc").as("hist_doc") +:
        (0 until nBands).map(b => bandVal("m", b).as(s"hbv$b")): _*)
      .join(historyDocs.select(col("doc").as("hist_doc"),
        Dedup.shinglesCol(col("line"), n).as("_hsh")), Seq("hist_doc"))
    val histBandsAll = histWide.select(
      Seq(col("hist_doc"), col("_hsh")) ++
        (0 until nBands).map(b => col(s"hbv$b")) :+
        explode(array((0 until nBands).map(b =>
          struct(lit(b.toLong).as("band"), col(s"hbv$b").as("band_val"))): _*))
          .as("e"): _*)
      .select(Seq(col("hist_doc"), col("_hsh"),
        col("e.band").as("band"), col("e.band_val").as("band_val")) ++
        (0 until nBands).map(b => col(s"hbv$b")): _*)

    // ── hot-bucket guard: resolved once, static history ─────────────────
    val hotByBand: Map[Long, Seq[String]] = histBandsAll
      .groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucketSize)
      .select(col("band"), col("band_val"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def isHot(band: Column, bandVal: Column): Column =
      hotByBand.foldLeft(lit(false)) { case (acc, (b, vals)) =>
        acc || (band === b && bandVal.isin(vals: _*))
      }
    val histBands = histBandsAll.where(!isHot(col("band"), col("band_val")))

    // ── stream side: ROW-LOCAL signature (one md5 per shingle) ──────────
    val minCols = (0 until numHashes).map { k =>
      array_min(transform(col("_bb"), p =>
        (p.getField("b1") + lit((k + 1).toLong) * p.getField("b2"))
          % Dedup.MinhashPrime)).as(s"m$k")
    }
    val sig = docs
      .select(col("doc"), Dedup.shinglesCol(col("line"), n).as("_sh"))
      .where(size(col("_sh")) > 0)
      .withColumn("_bb", transform(col("_sh"), s => {
        val h = md5(s)
        struct(
          org.apache.spark.sql.graft.VectorFunctions.hexLong(h, 1, 8).as("b1"),
          org.apache.spark.sql.graft.VectorFunctions.hexLong(h, 9, 8).as("b2"))
      }))
      .select(Seq(col("doc"), col("_sh")) ++ minCols: _*)
    val streamBands = sig.select(
      Seq(col("doc"), col("_sh")) ++
        (0 until nBands).map(b => bandVal("m", b).as(s"bv$b")): _*)
      .select(
        Seq(col("doc"), col("_sh")) ++
          (0 until nBands).map(b => col(s"bv$b")) :+
          explode(array((0 until nBands).map(b =>
            struct(lit(b.toLong).as("band"), col(s"bv$b").as("band_val"))): _*))
            .as("e"): _*)
      .select(Seq(col("doc"), col("_sh"),
        col("e.band").as("band"), col("e.band_val").as("band_val")) ++
        (0 until nBands).map(b => col(s"bv$b")): _*)

    // First SURVIVING matching band per (doc, hist_doc), evaluated
    // row-locally: a band whose history bucket was pruned produced no
    // join row, so it must not claim the pair — the next surviving
    // band's row carries it instead (batch-twin parity under the guard).
    val firstBand = (0 until nBands)
      .map { b =>
        val hot = hotByBand.getOrElse(b.toLong, Seq.empty)
        val survives =
          if (hot.isEmpty) col(s"bv$b") === col(s"hbv$b")
          else col(s"bv$b") === col(s"hbv$b") && !col(s"hbv$b").isin(hot: _*)
        when(survives, lit(b.toLong))
      }
      .reduceLeft[Column]((acc, c) => coalesce(acc, c))

    val joined = streamBands.join(histBands, Seq("band", "band_val"))
      .where(col("band") === firstBand)
    val inter = size(array_intersect(col("_sh"), col("_hsh"))).cast("long")
    joined
      .withColumn("_i", inter)
      .withColumn("_j",
        col("_i") / (size(col("_sh")) + size(col("_hsh")) - col("_i")))
      .where(col("_j") >= threshold)
      .select(col("doc"), col("hist_doc"), round(col("_j"), 6).as("jaccard"))
  }

  /**
   * Audit twin of [[nearDupScreen]]'s hot-bucket guard: the
   * (band, band_val, bucket_n) history buckets the screen excludes at
   * this bound — same band family as the screen's static side
   * (batch signatures + banding), same observability contract as
   * [[graft.operators.Dedup.lshSkippedBuckets]].
   */
  def nearDupScreenSkippedBuckets(
      historyDocs: DataFrame,
      n: Int = 3,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = graft.operators.Dedup.MaxPairBucket): DataFrame = {
    import graft.operators.Dedup
    Dedup.lshSkippedBuckets(
      Dedup.lshBands(
        Dedup.minhashSignatures(Dedup.shingles(historyDocs, n), numHashes),
        numHashes, rowsPerBand),
      maxBucketSize)
  }

  /**
   * ESTIMATE-verified streaming near-dup screen — [[nearDupScreen]]
   * with the q102 verify economics: instead of carrying each history
   * doc's whole SHINGLE ARRAY onto every join row (document-sized
   * state, shuffled per micro-batch), the static side carries only its
   * 16 signature minima (128 B/doc) and the pair verifies by Broder's
   * matching-minima Jaccard estimator, computed row-locally. Same
   * stateless stream-static band join, same once-resolved hot-bucket
   * guard and first-surviving-band dedup; the verify column is `est`
   * (E[est] = J, error pinned by the q102b contract on the batch
   * side). This is the screen a 100 TB history can actually broadcast:
   * signature state instead of re-carried text derivatives.
   */
  def nearDupScreenEstimated(
      docs: DataFrame,
      historyDocs: DataFrame,
      n: Int = 3,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucketSize: Int = graft.operators.Dedup.MaxPairBucket): DataFrame = {
    import graft.operators.Dedup
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")
    val nBands = numHashes / rowsPerBand

    def bandVal(prefix: String, b: Int): Column =
      concat_ws(",",
        (0 until rowsPerBand).map(i => col(s"$prefix${b * rowsPerBand + i}")): _*)

    // static history side: batch signatures; carry the minima, not text
    val histWide = Dedup
      .minhashSignatures(Dedup.shingles(historyDocs, n), numHashes)
      .select(col("doc").as("hist_doc") +:
        ((0 until nBands).map(b => bandVal("m", b).as(s"hbv$b")) ++
          (0 until numHashes).map(k => col(s"m$k").as(s"hm$k"))): _*)
    val histCarry =
      (0 until nBands).map(b => col(s"hbv$b")) ++
        (0 until numHashes).map(k => col(s"hm$k"))
    val histBandsAll = histWide.select(
      (col("hist_doc") +: histCarry :+
        explode(array((0 until nBands).map(b =>
          struct(lit(b.toLong).as("band"), col(s"hbv$b").as("band_val"))): _*))
          .as("e")): _*)
      .select((Seq(col("hist_doc"),
        col("e.band").as("band"), col("e.band_val").as("band_val")) ++
        histCarry): _*)

    // hot-bucket guard: resolved once over the static history
    val hotByBand: Map[Long, Seq[String]] = histBandsAll
      .groupBy(col("band"), col("band_val"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucketSize)
      .select(col("band"), col("band_val"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def isHot(band: Column, bandVal: Column): Column =
      hotByBand.foldLeft(lit(false)) { case (acc, (b, vals)) =>
        acc || (band === b && bandVal.isin(vals: _*))
      }
    val histBands = histBandsAll.where(!isHot(col("band"), col("band_val")))

    // stream side: row-local signature, minima carried for the verify
    val minCols = (0 until numHashes).map { k =>
      array_min(transform(col("_bb"), p =>
        (p.getField("b1") + lit((k + 1).toLong) * p.getField("b2"))
          % Dedup.MinhashPrime)).as(s"m$k")
    }
    val sig = docs
      .select(col("doc"), Dedup.shinglesCol(col("line"), n).as("_sh"))
      .where(size(col("_sh")) > 0)
      .withColumn("_bb", transform(col("_sh"), s => {
        val h = md5(s)
        struct(
          org.apache.spark.sql.graft.VectorFunctions.hexLong(h, 1, 8).as("b1"),
          org.apache.spark.sql.graft.VectorFunctions.hexLong(h, 9, 8).as("b2"))
      }))
      .select(col("doc") +: minCols: _*)
    val streamCarry =
      (0 until nBands).map(b => col(s"bv$b")) ++
        (0 until numHashes).map(k => col(s"m$k"))
    val streamBands = sig
      .select((Seq(col("doc")) ++
        (0 until numHashes).map(k => col(s"m$k")) ++
        (0 until nBands).map(b => bandVal("m", b).as(s"bv$b"))): _*)
      .select((col("doc") +: streamCarry :+
        explode(array((0 until nBands).map(b =>
          struct(lit(b.toLong).as("band"), col(s"bv$b").as("band_val"))): _*))
          .as("e")): _*)
      .select((Seq(col("doc"),
        col("e.band").as("band"), col("e.band_val").as("band_val")) ++
        streamCarry): _*)

    val firstBand = (0 until nBands)
      .map { b =>
        val hot = hotByBand.getOrElse(b.toLong, Seq.empty)
        val survives =
          if (hot.isEmpty) col(s"bv$b") === col(s"hbv$b")
          else col(s"bv$b") === col(s"hbv$b") && !col(s"hbv$b").isin(hot: _*)
        when(survives, lit(b.toLong))
      }
      .reduceLeft[Column]((acc, c) => coalesce(acc, c))

    val est = (0 until numHashes)
      .map(k => when(col(s"m$k") === col(s"hm$k"), 1).otherwise(0))
      .reduce(_ + _) / lit(numHashes.toDouble)
    streamBands.join(histBands, Seq("band", "band_val"))
      .where(col("band") === firstBand)
      .withColumn("_e", est)
      .where(col("_e") >= threshold)
      .select(col("doc"), col("hist_doc"), round(col("_e"), 6).as("est"))
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionSummary(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, value_sum: Double)

  // public: Spark's generated encoder code (Janino) must access members
  final case class SessionState(
      start: Long, last: Long, n: Long, sum: Double)

  /**
   * Streaming sessionization with explicit state: a session closes after
   * `gapMinutes` of event-time inactivity. A later event from the same
   * user closes it inline; otherwise the watermark passing `last + gap`
   * fires an event-time timeout that flushes it. Event-time (not
   * processing-time) timeouts keep replays deterministic and avoid the
   * engine's continuous no-data-batch polling. Emits one summary per
   * closed session. State per key is O(1) — four scalars — regardless of
   * session length.
   */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionSummary(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionSummary]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  // out-of-order within the gap: extend, never shrink —
                  // keeps session_start/session_end consistent with the
                  // batch twin (Events.sessionize) on late arrivals
                  cur = Some(s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t), n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed ::= SessionSummary(user, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire once the watermark passes the inactivity gap; guard
              // against a watermark already beyond it (very late data)
              val fireAt = s.last + gapMs
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(fireAt, wm + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /**
   * Streaming hot-key monitor — the live sibling of `HotKeys.hotKeys`:
   * per tumbling window, keys whose event count reaches `minCount`,
   * emitted once when the watermark closes the window (append-safe;
   * state is one counter per in-flight (window, key)).
   *
   * The threshold is an ABSOLUTE per-window budget, not the batch
   * radar's relative θ: a relative threshold needs the window's total
   * alongside each key's count, which is a second streaming aggregation
   * over the same input — and joining two streaming aggregates is not
   * append-expressible. Operationally that is the right shape anyway: a
   * skew/abuse alert is "key X exceeded its per-hour budget", with the
   * budget derived OFFLINE from θ × expected window volume (the batch
   * radar's job). Batch-twin parity: on a static frame this equals
   * grouping the same tumbling windows and filtering count ≥ minCount.
   */
  def hotKeyAlerts(
      events: DataFrame,
      keyCol: String,
      minCount: Long,
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDuration), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("window.start").as("window_start"), col(keyCol), col("cnt"))
  }

  /**
   * Streaming CORPUS CHECKSUM — live maintenance of
   * [[graft.operators.Pipeline.corpusChecksum]]'s per-source manifest:
   * count and the commutative row-hash sum are both mergeable
   * aggregates, so the running state after ANY prefix of the stream
   * equals the batch operator over the same rows, whatever the
   * micro-batch slicing (order-free by construction — the exact
   * property the checksum was designed around). Update output mode;
   * state is one (count, sum) pair per source.
   */
  def checksumStream(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(org.apache.spark.sql.graft.VectorFunctions.hexLong(md5(concat(
            lit("ck:"), col("doc").cast("string"),
            lit(":"), md5(col("line")))), 1, 15)
          .cast("decimal(38,0)"))
          .cast("string").as("checksum"))

  /**
   * EXACTLY-ONCE parquet sink — the operational consumer of
   * [[checksumStream]]/[[graft.operators.Pipeline.corpusChecksum]]:
   * Structured Streaming's `foreachBatch` is AT-LEAST-once (failure
   * recovery re-invokes the last batch with the SAME batchId and the
   * same rows), so end-to-end exactly-once is the sink's job, and the
   * standard recipe is batch-id idempotence. Each invocation writes
   * its rows under a `batch_id=<id>` partition with DYNAMIC partition
   * overwrite — a replayed batch overwrites exactly its own partition
   * instead of appending a duplicate, and batches it didn't touch are
   * untouched (static overwrite mode would truncate the whole table;
   * dynamic is the load-bearing option here).
   *
   * Verification contract (StreamingSpec): after any replay pattern,
   * `corpusChecksum` over the sink (minus batch_id) equals the
   * checksum over the logical input — the q134 operator doing the
   * operational audit it was built for.
   */
  def idempotentBatchWrite(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** [[idempotentBatchWrite]] wired as a `foreachBatch` streaming sink.
    * The checkpoint ties batchIds to input offsets across restarts —
    * exactly-once = (checkpointed offsets) × (idempotent writes). */
  def exactlyOnceParquetSink(
      docs: DataFrame,
      path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        idempotentBatchWrite(batch.toDF(), id, path))
      .start()

  /**
   * Live SEASONAL-ratio alerts — the streaming consumer of
   * [[graft.operators.Events.seasonalBaseline]]: per closed tumbling
   * (window, type), the observed count against the batch-derived
   * per-(type, hour-of-day) slot baseline, alerting when the ratio
   * leaves [loRatio, hiRatio] or the (type, hod) has no baseline at
   * all (a brand-new event type IS an alert). The baseline is static
   * state resolved at plan time (the nearDupScreen recipe); refresh =
   * restart with a re-derived baseline, the blue/green shape.
   *
   * The ratio is the same exact-integer n·h_slot/S_slot as the batch
   * op; the stream side is one watermark-bounded windowed count, the
   * baseline join is a broadcast after the aggregation (append-safe —
   * the windowedTfIdf precedent).
   *
   * @param baseline output of `Events.seasonalBaseline` over history
   * @return per closed (window_start, event_type): n_events, hod,
   *         ratio (null when no baseline), is_alert
   */
  def seasonalAlerts(
      events: DataFrame,
      baseline: DataFrame,
      loRatio: Double = 0.5,
      hiRatio: Double = 2.0,
      watermark: String = "2 hours"): DataFrame = {
    require(loRatio > 0 && loRatio < hiRatio,
      s"need 0 < loRatio < hiRatio, got $loRatio, $hiRatio")
    val slots = baseline
      .select(col("event_type"), col("hod"),
        col("slot_hours"), col("slot_total"))
      .distinct()
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
      .withColumn("hod", hour(col("window_start")).cast("long"))
      .join(broadcast(slots), Seq("event_type", "hod"), "left")
      .withColumn("ratio", round(
        (col("n_events") * col("slot_hours")).cast("double") /
          col("slot_total").cast("double"), 6))
      .withColumn("is_alert",
        col("ratio").isNull || col("ratio") < loRatio || col("ratio") > hiRatio)
      .select(col("window_start"), col("event_type"), col("hod"),
        col("n_events"), col("ratio"), col("is_alert"))
  }

  final case class TransitionEvent(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)
  final case class Transition(
      user_id: Long, from_type: String, to_type: String,
      ts: java.sql.Timestamp)

  // public: Spark's generated encoder code (Janino) must access members
  final case class LastEventState(ts: Long, event_id: Long, event_type: String)

  /**
   * Streaming event-type TRANSITIONS — the live feed behind
   * [[graft.operators.Events.typeTransitions]]' matrix: each arriving
   * event emits its (previous type → this type) edge the moment it
   * lands, via explicit per-user state holding ONLY the last event
   * (three scalars — O(1) per user regardless of history; the state
   * table persists, so no timeout).
   *
   * Ordering semantics: within a micro-batch rows process in
   * (ts, event_id) order, matching the batch window exactly. ACROSS
   * batches an event older than the stored last would need
   * retroactive edge insertion — it is DROPPED rather than emitting a
   * wrong edge (the conservative choice for a monitoring feed), and
   * the watermark bounds how late that can happen. On in-order
   * replays the emitted edges aggregate to the batch matrix
   * (StreamingSpec asserts it).
   */
  def transitionStream(
      events: Dataset[TransitionEvent],
      watermarkDelay: String = "10 minutes"): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEventState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[LastEventState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var last = state.getOption
          val out = List.newBuilder[Transition]
          sorted.foreach { e =>
            val t = e.ts.getTime
            last match {
              case Some(l) if t > l.ts || (t == l.ts && e.event_id > l.event_id) =>
                out += Transition(user, l.event_type, e.event_type, e.ts)
                last = Some(LastEventState(t, e.event_id, e.event_type))
              case Some(_) => // cross-batch late arrival: drop, never lie
              case None =>
                last = Some(LastEventState(t, e.event_id, e.event_type))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  final case class EwmaEvent(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, value: Double)
  final case class EwmaOut(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, ewma: Double)
  // public: Spark's generated encoder code (Janino) must access members
  final case class EwmaState(ts: Seq[Long], ids: Seq[Long], vals: Seq[Double])

  /**
   * Streaming per-user EWMA — the live twin of
   * [[graft.operators.Events.userEwma]]: each arriving event emits its
   * recency-weighted average the moment it lands, from explicit
   * per-user state holding ONLY the last `nRows` (ts, id, value)
   * triples — a bounded deque, O(nRows) per user regardless of
   * history (the third state shape in this file, between
   * transitionStream's single-event scalar and the session
   * accumulator).
   *
   * Parity: the weight table comes from the same [[graft.operators
   * .Events.ewmaWeights]] the batch plan embeds, the fold runs in the
   * same oldest-first order, and rounding happens OUTSIDE the state
   * function in a Catalyst `round` — so on in-order replays the
   * emitted rows EQUAL the batch tier's (StreamingSpec asserts
   * equality, no tolerance). Ordering semantics are transitionStream's:
   * within a micro-batch rows process in (ts, event_id) order; a
   * cross-batch event older than the newest stored row would need
   * retroactive frame rewrites — it is DROPPED rather than emitting a
   * wrong average, and the watermark bounds how late that can happen.
   */
  def ewmaStream(
      events: Dataset[EwmaEvent],
      nRows: Int = 10,
      alpha: Double = 0.2,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (wts, cum) = graft.operators.Events.ewmaWeights(nRows, alpha)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[EwmaState]) =>
          var ts = state.getOption.map(_.ts.toVector).getOrElse(Vector.empty)
          var ids = state.getOption.map(_.ids.toVector).getOrElse(Vector.empty)
          var vals = state.getOption.map(_.vals.toVector).getOrElse(Vector.empty)
          val out = List.newBuilder[EwmaOut]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            val inOrder = ts.isEmpty ||
              t > ts.last || (t == ts.last && e.event_id > ids.last)
            if (inOrder) {
              ts = (ts :+ t).takeRight(nRows)
              ids = (ids :+ e.event_id).takeRight(nRows)
              vals = (vals :+ e.value).takeRight(nRows)
              val m = vals.size
              var num = 0.0
              var i = 0
              while (i < m) { num += vals(i) * wts(m - 1 - i); i += 1 }
              out += EwmaOut(user, e.ts, e.event_id, num / cum(m - 1))
            } // else: cross-batch late arrival — drop, never lie
          }
          state.update(EwmaState(ts, ids, vals))
          out.result().iterator
      }
      .toDF()
      // Catalyst does the rounding, exactly as the batch plan does
      .withColumn("ewma", round(col("ewma"), 6))
  }

  final case class GapEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  // public: Spark's generated encoder code (Janino) must access members.
  // q (Σgap²) rides as a decimal STRING — exact at any stream length;
  // s (Σgap seconds) stays a Long (9.2e18 gap-seconds ≈ 292 Gyr).
  final case class GapRegState(ts: Long, event_id: Long, n: Long, s: Long, q: String)
  final case class GapRegOut(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      n_events: Long, n_gaps: Long, s_raw: Double, num_raw: Double,
      den_raw: Double)

  /**
   * Streaming per-user GAP REGULARITY — the live twin of
   * [[graft.operators.Events.userGapRegularity]] (the bot radar): each
   * arriving event updates its user's exact gap moments (n, Σg, Σg² —
   * three scalars, Σg² as a BigInt string so the state never
   * saturates) and, once `minEvents` arrivals are in, emits the
   * running mean/CV the moment it lands — a timer bot is flaggable
   * WHILE it hammers, not in tomorrow's batch sweep.
   *
   * Parity: gaps are the same floor(µs-delta / 1e6) whole seconds, the
   * CV is the same single √ of the exact integer ratio
   * (n·Σg² − (Σg)²)/(Σg)² — both integer operands converted to double
   * exactly as the batch DECIMAL casts — and rounding happens OUTSIDE
   * the state function in Catalyst `round`, so on in-order replays the
   * LAST emitted row per user EQUALS the batch tier over the same
   * prefix (StreamingSpec asserts equality). Ordering semantics are
   * ewmaStream's: within a micro-batch rows process in (ts, event_id)
   * order; a cross-batch out-of-order event would rewrite the gap it
   * split — DROPPED rather than lied about, watermark-bounded.
   */
  def gapRegularityStream(
      events: Dataset[GapEvent],
      minEvents: Int = 5,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(minEvents >= 2, s"minEvents must be >= 2, got $minEvents")
    val spark = events.sparkSession
    import spark.implicits._
    def micros(t: java.sql.Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapRegState, GapRegOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[GapRegState]) =>
          var cur = state.getOption
          val out = List.newBuilder[GapRegOut]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = micros(e.ts)
            val inOrder = cur.forall(c =>
              t > c.ts || (t == c.ts && e.event_id > c.event_id))
            if (inOrder) {
              val next = cur match {
                case None => GapRegState(t, e.event_id, 1L, 0L, "0")
                case Some(c) =>
                  val gap = Math.floorDiv(t - c.ts, 1000000L)
                  GapRegState(t, e.event_id, c.n + 1L, c.s + gap,
                    (BigInt(c.q) + BigInt(gap) * BigInt(gap)).toString)
              }
              cur = Some(next)
              if (next.n >= minEvents) {
                val nGaps = next.n - 1L
                val s2 = BigInt(next.s) * BigInt(next.s)
                val num = BigInt(nGaps) * BigInt(next.q) - s2
                out += GapRegOut(user, e.ts, e.event_id, next.n, nGaps,
                  next.s.toDouble, num.doubleValue, s2.doubleValue)
              }
            } // else: cross-batch late arrival — drop, never lie
          }
          cur.foreach(state.update)
          out.result().iterator
      }
      .toDF()
      // Catalyst does the arithmetic the batch plan does: one rounded
      // division for the mean, one rounded √ of the exact ratio
      .withColumn("mean_gap_s", round(col("s_raw") / col("n_gaps"), 6))
      .withColumn("cv",
        when(col("s_raw") > 0,
          round(sqrt(col("num_raw") / col("den_raw")), 6)))
      .drop("s_raw", "num_raw", "den_raw")
  }

  final case class CusumEvent(
      event_type: String, ts: java.sql.Timestamp, event_id: Long, value: Double)
  final case class CusumTypeParams(mu: Long, kappa: Long, h: Long)
  // public: Spark's generated encoder code (Janino) must access members
  final case class CusumState(ts: Long, event_id: Long, sp: Long, sn: Long)
  final case class CusumOut(
      event_type: String, ts: java.sql.Timestamp, event_id: Long,
      v_micro: Long, s_pos: Option[Long], s_neg: Option[Long],
      is_alarm: Boolean, side: Option[String])

  /**
   * Streaming two-sided CUSUM — the live twin of
   * [[graft.operators.Events.cusumScoresAgainst]]: each arriving event
   * updates its type's (S⁺, S⁻) pair from the LITERAL Page recursion
   * (state is two longs — the recursion the batch tier unrolls into
   * windows is the natural streaming fold) and emits its scores and
   * alarm flag the moment it lands.
   *
   * Parameters are FROZEN per type — fit upstream by
   * [[graft.operators.Events.cusumParams]] and passed as a collected
   * map (types-bounded, the classifyStream model-literal pattern); a
   * type absent from the map scores null and never alarms, exactly as
   * the batch left-join does. v_micro quantizes through the same
   * HALF_UP the batch Catalyst `round` applies, so on in-order replays
   * the emitted rows EQUAL the batch tier's (StreamingSpec asserts
   * equality). Ordering semantics are ewmaStream's: within a
   * micro-batch rows process in (ts, event_id) order; a cross-batch
   * out-of-order event would rewrite history — it is DROPPED rather
   * than corrupting the running sums, and the watermark bounds how
   * late that can happen.
   */
  def cusumStream(
      events: Dataset[CusumEvent],
      params: Map[String, CusumTypeParams],
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (typ, rows, state: GroupState[CusumState]) =>
          var st = state.getOption
            .getOrElse(CusumState(Long.MinValue, Long.MinValue, 0L, 0L))
          val p = params.get(typ)
          val out = List.newBuilder[CusumOut]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            val inOrder = t > st.ts || (t == st.ts && e.event_id > st.event_id)
            if (inOrder) {
              val vm = BigDecimal(e.value * 1e6)
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
              p match {
                case Some(CusumTypeParams(mu, kappa, h)) =>
                  val sp = math.max(0L, st.sp + (vm - mu - kappa))
                  val sn = math.max(0L, st.sn + (mu - vm - kappa))
                  st = CusumState(t, e.event_id, sp, sn)
                  val side =
                    if (sp > h && sn > h) Some("both")
                    else if (sp > h) Some("up")
                    else if (sn > h) Some("down") else None
                  out += CusumOut(typ, e.ts, e.event_id, vm,
                    Some(sp), Some(sn), sp > h || sn > h, side)
                case None =>
                  st = CusumState(t, e.event_id, st.sp, st.sn)
                  out += CusumOut(typ, e.ts, e.event_id, vm,
                    None, None, is_alarm = false, None)
              }
            } // else: cross-batch late arrival — drop, never corrupt S
          }
          state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /**
   * Streaming MODEL INFERENCE: score every arriving doc against a
   * pre-fit Naive Bayes model ([[graft.operators.Classify.fit]]) — the
   * classify-at-ingest step of a streaming curation pipeline (route by
   * predicted language/domain/quality the moment a doc lands).
   *
   * Deliberately STATELESS: the model rides along as literals inside
   * one codegen'd projection (`Classify.scoreRowLocal`), so there is no
   * state store, no watermark, no shuffle, and any output mode works.
   * Model refresh = restart the query with a refit model — the
   * standard blue/green model-rollout shape, not mid-stream mutation.
   * Batch-twin parity: on the fit corpus the predictions equal the
   * distributed `Classify.naiveBayes` (asserted in ClassifySpec; the
   * streaming replay in StreamingSpec).
   */
  def classifyStream(
      docs: DataFrame,
      model: graft.operators.Classify.NbModel): DataFrame =
    graft.operators.Classify.scoreRowLocal(docs, model)

  /**
   * Streaming twin of [[graft.operators.Merge.upsertLatest]]: the LIVE
   * keyed state table — per (user_id, event_type), the latest event
   * under the (ts, event_id) total order. `max_by` over the struct key
   * is commutative and mergeable (the downsampleOhlc pick recipe), so
   * the per-key winner is micro-batch-order-free: out-of-order and
   * replayed deliveries are no-ops exactly as in the batch upsert, and
   * the state after any prefix of the stream equals the batch operator
   * run over the same rows.
   *
   * Update output mode (a key re-emits whenever a newer event lands).
   * State is ONE struct per key — bounded by key cardinality, which is
   * the state-table contract itself, so no watermark is involved;
   * this aggregation is keyed, not time-windowed.
   */
  def latestState(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("value")),
        struct(col("ts"), col("event_id"))).as("w"))
      .select(col("user_id"), col("event_type"),
        col("w.event_id").as("event_id"), col("w.ts").as("ts"),
        col("w.value").as("value"))

  /**
   * Streaming CONTAMINATION SCREEN — the live twin of
   * [[graft.operators.Dedup.ngramDecontaminate]] (the 13-gram
   * benchmark-overlap filter), for flagging contaminated documents AT
   * INGEST instead of in a batch sweep: each arriving doc's n-grams
   * are probed row-locally against a Bloom filter of the STATIC
   * benchmark n-gram set, resolved once at plan time (the
   * noveltyScreen recipe). Stateless — no watermark, no state store,
   * append-safe at any rate.
   *
   * Contract: Bloom probes only OVER-count (collisions add hits), so
   * `n_hits_est ≥` the batch tier's exact n_hits and no contaminated
   * doc is ever missed — a screen must never under-flag. At the tiny
   * fpp the benchmark's bounded size affords, the estimate equals the
   * exact count w.h.p.; StreamingSpec pins batch parity at fpp 1e-4.
   * Benchmark refresh = restart with a re-derived filter (the
   * blue/green shape, same as seasonalAlerts' baseline).
   */
  def contaminationScreen(
      docs: DataFrame,
      bench: DataFrame,
      n: Int = 13,
      fpp: Double = 1e-4): DataFrame = {
    import graft.operators.Dedup
    val bytes = Dedup.bloomBytesOf(
      Dedup.shingles(bench, n)
        .select(xxhash64(col("shingle")).as("h")),
      -1L, fpp)
    docs
      .withColumn("_sh", Dedup.shinglesCol(col("line"), n))
      .withColumn("n_hits_est",
        size(filter(col("_sh"), s =>
          org.apache.spark.sql.graft.BloomFunctions
            .mightContainLong(xxhash64(s), bytes))).cast("long"))
      .withColumn("contaminated_est", col("n_hits_est") > 0)
      .drop("_sh")
  }

  /**
   * Streaming EMBEDDING-space decontamination screen — the live twin
   * of [[graft.operators.Similarity.embeddingContamination]], flagging
   * paraphrased eval leakage AT INGEST (the n-gram
   * [[contaminationScreen]] catches verbatim overlap; this catches the
   * semantic kind): each arriving (vec_id, embedding) row is scored
   * against every benchmark vector and emits its max benchmark cosine
   * plus the verdict.
   *
   * Stateless and append-safe with NO driver action: the batch tier's
   * "bench sets are eval-sized, so broadcast" argument bounds a
   * 1-row static frame equally well — the bench vectors aggregate into
   * ONE array-of-structs row that a broadcast stream-static join
   * carries onto every arrival, and the max-cosine reduction is an
   * array expression on that one row (the mediaNearDupScreen carried-
   * array recipe, sidestepping the update-mode groupBy the batch
   * shape would need). Same arithmetic as batch — per-pair round-6
   * cosine, max after rounding, self-id pairs excluded — so
   * StreamingSpec pins EQUALITY, not tolerance; like the batch tier,
   * an arrival with no scoreable bench partner (only its own id)
   * emits nothing. Bench refresh = restart (the blue/green shape).
   */
  def embeddingContaminationScreen(
      embs: DataFrame,
      bench: DataFrame,
      tau: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions.dotProduct
    def asDouble(c: Column): Column = c.cast("array<double>")
    val benchRow = bench
      .select(col("vec_id").as("q_vec_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_nrm", sqrt(dotProduct(col("q_emb"), col("q_emb"))))
      .agg(collect_list(
        struct(col("q_vec_id"), col("q_emb"), col("q_nrm"))).as("_bench"))
    val n = embs
      .select(col("vec_id"), asDouble(col("embedding")).as("_emb"))
      .withColumn("_nrm", sqrt(dotProduct(col("_emb"), col("_emb"))))
    n.crossJoin(broadcast(benchRow))
      .withColumn("max_cos", array_max(transform(
        filter(col("_bench"), b => b.getField("q_vec_id") =!= col("vec_id")),
        b => round(dotProduct(b.getField("q_emb"), col("_emb")) /
          (b.getField("q_nrm") * col("_nrm")), 6))))
      .where(col("max_cos").isNotNull)
      .select(col("vec_id"), col("max_cos"),
        (col("max_cos") >= tau).as("contaminated"))
  }

  /**
   * Streaming EMBEDDING-INGEST decision log — the live twin of
   * [[graft.operators.Similarity.embeddingIngest]] (the vector-store
   * upsert pipeline: exact-dup screen → decontamination screen →
   * keep), one row per ARRIVING vector, entirely STATELESS:
   *
   *  - exact stage: the arrival's xxhash64 over the double-cast
   *    vector meets a static index of DISTINCT history vectors in a
   *    1:≤1 stream-static left join ([[embeddingIngestIndex]] — one
   *    row per distinct vector, so a million identical history rows
   *    are ONE index row and there is no hot-bucket concern), and the
   *    element-wise EQUALITY CONFIRM is a row-local array filter over
   *    the carried candidates (hash collisions cannot fake a dup);
   *  - near-dup stage: the arrival's `tables` hyperplane bucket keys
   *    ([[graft.operators.Similarity.lshTableBucketCol]] — the SAME
   *    key derivation as the batch tier, computed map-side) meet a
   *    static per-(table, bucket) candidate index in ≤ `tables` 1:≤1
   *    left joins ([[embeddingNearDupIndex]] — hot history buckets
   *    dropped WHOLE at build, the batch guard), and the exact
   *    round-6 cosine confirm + min-history-id anchor are row-local
   *    array expressions over the carried candidates;
   *  - contamination stage: survivors score against the bench set
   *    carried as ONE broadcast array row (the
   *    [[embeddingContaminationScreen]] recipe), best match by
   *    (round-6 cos desc, id) — all row-local array expressions;
   *  - stage priority exact > near_dup > contaminated > kept and the
   *    coalesced anchor mirror the batch log exactly (StreamingSpec
   *    pins row-identity on a fixture with all four stages
   *    populated).
   *
   * @param embs streaming (vec_id, embedding)
   * @param history static (vec_id, embedding)
   * @param bench static (vec_id, embedding) benchmark/eval set
   * @param precomputedIndex a persisted [[embeddingIngestIndex]] —
   *        without it the distinct-vector index re-derives per
   *        micro-batch join (fine for tests, wrong for production;
   *        the ingestScreen precomputedIndex convention)
   * @param precomputedNearDupIndex a persisted
   *        [[embeddingNearDupIndex]] built with the SAME (bits,
   *        tables, maxBucketSize) — same convention. Production
   *        callers should prefer [[embeddingIngestScreenFromState]]:
   *        both indexes AND the derivation parameters load from ONE
   *        [[embeddingIngestState]] artifact, so a start cannot
   *        mis-pair them.
   * @return streaming (vec_id, stage, anchor) — every arrival emits
   */
  def embeddingIngestScreen(
      embs: DataFrame,
      history: DataFrame,
      bench: DataFrame,
      tau: Double = 0.85,
      tauNearDup: Double = 0.9,
      bits: Int = 4,
      tables: Int = 4,
      maxBucketSize: Int = graft.operators.Similarity.MaxPairBucket,
      precomputedIndex: Option[DataFrame] = None,
      precomputedNearDupIndex: Option[DataFrame] = None): DataFrame = {
    val idx = precomputedIndex.getOrElse(embeddingIngestIndex(history))
    val ndIdx = precomputedNearDupIndex.getOrElse(
      embeddingNearDupIndex(history, bits, tables, maxBucketSize))
    embeddingIngestScreenCore(embs, bench, idx, ndIdx,
      tau, tauNearDup, bits, tables)
  }

  /**
   * The PRODUCTION stream start for [[embeddingIngestScreen]] — the
   * [[ingestScreenFromState]] / [[mediaNearDupScreenFromState]]
   * convention applied to the embedding tier: BOTH static screens —
   * the distinct-vector exact index and the per-(table, bucket)
   * near-dup candidate index — load from ONE persisted
   * [[embeddingIngestState]] artifact, and so do the DERIVATION
   * PARAMETERS (bits, tables): the hyperplane band keys are a property
   * of how the state was built, so a stream start cannot mis-repeat
   * them — a mismatched bit width or table count would compute bucket
   * keys that silently miss every history candidate, the exact class
   * of quiet wrongness the repo kills loudly. Only the stream-side
   * SEMANTIC knobs (tau, tauNearDup — row-local cosine confirms, not
   * key derivations) and the eval-sized bench frame remain arguments;
   * `history` is never touched (not in the signature). Driver-side
   * action: the 1-row meta read at plan construction.
   *
   * @param embs streaming (vec_id, embedding)
   * @param state a (persisted or parquet-read) [[embeddingIngestState]]
   * @param bench static (vec_id, embedding) benchmark/eval set
   * @return streaming (vec_id, stage, anchor) — every arrival emits
   */
  def embeddingIngestScreenFromState(
      embs: DataFrame,
      state: DataFrame,
      bench: DataFrame,
      tau: Double = 0.85,
      tauNearDup: Double = 0.9): DataFrame = {
    val params = artifactMeta(state, "embeddingIngestState",
      required = Seq("bits", "tables"))
    val idx = state.where(col("section") === "index")
      .select(col("hkey"), col("cands"))
    val ndIdx = state.where(col("section") === "ndindex")
      .select(col("t"), col("bucket"), col("ndcands").as("cands"))
    embeddingIngestScreenCore(embs, bench, idx, ndIdx,
      tau, tauNearDup, metaInt(params, "bits", "embeddingIngestState"),
      metaInt(params, "tables", "embeddingIngestState"))
  }

  /**
   * The full static state behind [[embeddingIngestScreenFromState]],
   * packaged as ONE writable frame (section-tagged union — one parquet
   * directory is the whole artifact, the [[ingestState]] shape):
   *  - `section = "index"`: the [[embeddingIngestIndex]] rows
   *    (hkey, cands) — the exact-dup screen;
   *  - `section = "ndindex"`: the [[embeddingNearDupIndex]] rows
   *    (t, bucket, ndcands) — the near-dup screen, hot history buckets
   *    already dropped at this build's `maxBucketSize`;
   *  - `section = "meta"`: ONE row carrying the derivation parameters
   *    (bits;tables;maxBucketSize in the meta column) so the stream
   *    start reads them FROM the artifact instead of trusting the
   *    caller to repeat them (maxBucketSize is baked into the ndindex
   *    rows; it rides along so the artifact documents its own build).
   * Build once per history snapshot, write/persist, and start any
   * number of streams from it — raw history is scanned at BUILD time
   * only (EmbeddingIngestStressMain records build-once vs
   * load-and-serve at 10×).
   */
  def embeddingIngestState(
      history: DataFrame,
      bits: Int = 4,
      tables: Int = 4,
      maxBucketSize: Int = graft.operators.Similarity.MaxPairBucket,
      allowSaturated: Boolean = false): DataFrame = {
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")
    val idx = embeddingIngestIndex(history)
    // ONE persisted bucket aggregation feeds the saturation radar and
    // the kept/dropped split (the tables×2^bits key space is TINY — 64
    // buckets at the defaults — so duplication saturates it far sooner
    // than the media tiers' 1,792 keys; the radar is not optional here)
    val buckets = graft.Caching.persist(
      embeddingNdBuckets(history, bits, tables))
    requireUnsaturatedScreenBuckets(buckets, maxBucketSize, allowSaturated,
      "embeddingIngestState",
      "raise bits (deriveLshBits sizes the bucket space to the corpus) " +
        "or scale the bound to the corpus's duplication " +
        "(Multimodal.scaledGuardBound)")
    // the meta row also records the history snapshot's content identity
    // (requireScreenStateHistoryCurrent's comparison base) — a lazy
    // aggregate over history, paid at the artifact's materialization
    val metaRow = historyMetaTailRow(history, Seq("vec_id"), "embedding")
      .select(concat(lit(s"bits=$bits;tables=$tables;" +
        s"maxBucketSize=$maxBucketSize;"), col("_tail")).as("_meta"))
    embeddingIngestStateAssembly(history.sparkSession, idx,
      buckets.where(size(col("cands")) <= maxBucketSize),
      buckets.where(size(col("cands")) > maxBucketSize)
        .select(col("t"), col("bucket")),
      metaRow)
  }

  /** Assemble the embedding-ingest artifact from its parts — shared by
    * [[embeddingIngestState]] (full build) and
    * [[extendEmbeddingIngestState]] (delta fold). The `nddropped`
    * section records the near-dup buckets the hot guard excluded WHOLE
    * — invisible to the screen, load-bearing for the extension (the
    * [[ingestState]] dropped-keys rationale). */
  private def embeddingIngestStateAssembly(
      spark: org.apache.spark.sql.SparkSession,
      idx: DataFrame,
      ndIdx: DataFrame,
      ndDropped: DataFrame,
      metaRow: DataFrame): DataFrame = {
    val exCandsT = idx.schema("cands").dataType
    val ndCandsT = ndIdx.schema("cands").dataType
    val indexRows = idx.select(
      lit("index").as("section"), col("hkey"), col("cands"),
      lit(null).cast("long").as("t"), lit(null).cast("long").as("bucket"),
      lit(null).cast(ndCandsT).as("ndcands"),
      lit(null).cast("string").as("meta"))
    val ndRows = ndIdx.select(
      lit("ndindex").as("section"), lit(null).cast("long").as("hkey"),
      lit(null).cast(exCandsT).as("cands"),
      col("t"), col("bucket"), col("cands").as("ndcands"),
      lit(null).cast("string").as("meta"))
    val ndDroppedRows = ndDropped.select(
      lit("nddropped").as("section"), lit(null).cast("long").as("hkey"),
      lit(null).cast(exCandsT).as("cands"),
      col("t"), col("bucket"), lit(null).cast(ndCandsT).as("ndcands"),
      lit(null).cast("string").as("meta"))
    val meta = metaRow.select(
      lit("meta").as("section"), lit(null).cast("long").as("hkey"),
      lit(null).cast(exCandsT).as("cands"),
      lit(null).cast("long").as("t"), lit(null).cast("long").as("bucket"),
      lit(null).cast(ndCandsT).as("ndcands"),
      col("_meta").as("meta"))
    indexRows.unionByName(ndRows).unionByName(ndDroppedRows)
      .unionByName(meta)
  }

  /**
   * O(delta) EXTENSION of an [[embeddingIngestState]] artifact — the
   * [[extendIngestState]] law in vector space, with one extra merge
   * rule the exact-dup screen forces: the exact index keeps ONE entry
   * per DISTINCT vector carrying the SMALLEST vec_id that has it (the
   * batch anchor rule), so merging per hkey is not a bare concat — the
   * fold re-reduces per distinct hemb to min(old anchor, delta anchor)
   * ROW-LOCALLY (hkey buckets are hash buckets of distinct vectors —
   * tiny by construction, so the per-bucket O(k²) reduction is noise).
   * The near-dup index merges like the media tiers: delta buckets
   * concat on (t, bucket), the hot guard re-applies on MERGED sizes,
   * buckets in the artifact's `nddropped` section stay dropped, and
   * the history checksum composes by sum. Exactly equivalent to
   * `embeddingIngestState(history ∪ delta)` (StreamingSpec pins
   * artifact content and screen-output identity); the disjoint-delta
   * contract applies verbatim. Cost: O(delta hashing + touched
   * buckets), never O(history re-hash).
   *
   * SMALL-DELTA ASSUMPTION: the fold BROADCASTS the delta-side buckets
   * and index (untouched artifact rows stream through unshuffled —
   * the point of the O(delta) shape), so a delta must fit the
   * broadcast/driver-memory budget. A backfill-sized delta belongs in
   * a full rebuild (`embeddingIngestState(history ∪ delta)`), whose
   * shuffle plan is built for corpus-scale input; every `extend*`
   * operator in this file shares the contract.
   */
  def extendEmbeddingIngestState(
      state: DataFrame, deltaEmbs: DataFrame,
      allowSaturated: Boolean = false): DataFrame = {
    val spark = state.sparkSession
    val builder = "embeddingIngestState"
    val params = artifactMeta(state, builder,
      required = Seq("bits", "tables", "maxBucketSize",
        "historyKey", "historyPayload", "historyChecksum"))
    val bits = metaInt(params, "bits", builder)
    val tables = metaInt(params, "tables", builder)
    val maxBucketSize = metaInt(params, "maxBucketSize", builder)
    // exact index: per-hkey merge preserving min-id-per-distinct-vector
    val deltaIdx = embeddingIngestIndex(deltaEmbs)
    val oldIdx = state.where(col("section") === "index")
      .select(col("hkey"), col("cands"))
    def mergeExact(m: Column): Column =
      transform(array_distinct(transform(m, c => c.getField("hemb"))), h =>
        struct(h.as("hemb"),
          array_min(transform(filter(m, c => c.getField("hemb") === h),
            c => c.getField("hid"))).as("hid")))
    val mergedIdx = broadcastFullOuterMerge(oldIdx,
      deltaIdx.withColumnRenamed("cands", "_dc"), Seq("hkey"),
      "cands", "_dc", (a, d) => mergeExact(concat(a, d)))
    // near-dup index: the media-tier fold on (t, bucket)
    val deltaNd = embeddingNdBuckets(deltaEmbs, bits, tables)
    val oldNd = state.where(col("section") === "ndindex")
      .select(col("t"), col("bucket"), col("ndcands").as("cands"))
    val oldNdDropped = state.where(col("section") === "nddropped")
      .select(col("t"), col("bucket"))
    val mergedNd = graft.Caching.persist(
      broadcastFullOuterMerge(oldNd,
          deltaNd.withColumnRenamed("cands", "_dc"), Seq("t", "bucket"),
          "cands", "_dc", concat(_, _))
        .join(broadcast(oldNdDropped.withColumn("_wasDropped", lit(true))),
          Seq("t", "bucket"), "left_outer")
        .select(col("t"), col("bucket"), col("cands"),
          coalesce(col("_wasDropped"), lit(false)).as("_wasDropped")))
    requireUnsaturatedScreenBuckets(
      mergedNd.where(!col("_wasDropped")), maxBucketSize, allowSaturated,
      "extendEmbeddingIngestState",
      "raise bits at the next full rebuild (deriveLshBits) or scale the " +
        "bound to the corpus's duplication (Multimodal.scaledGuardBound)")
    val Array(nOld, sOld) = params("historyChecksum").split(':')
    val Array(nDelta, sDelta) =
      historyChecksumRow(deltaEmbs, Seq("vec_id"), "embedding")
        .head().getString(0).split(':')
    val metaRow = spark.range(1).select(
      lit(s"bits=$bits;tables=$tables;maxBucketSize=$maxBucketSize;" +
        s"historyKey=${params("historyKey")};" +
        s"historyPayload=${params("historyPayload")};" +
        s"historyChecksum=${nOld.toLong + nDelta.toLong}:" +
        s"${(BigInt(sOld) + BigInt(sDelta)).toString}").as("_meta"))
    embeddingIngestStateAssembly(spark, mergedIdx,
      mergedNd.where(!col("_wasDropped") &&
          size(col("cands")) <= maxBucketSize)
        .select(col("t"), col("bucket"), col("cands")),
      // visible-over-bound ∪ EVERY previously-dropped key — an old
      // dropped bucket with no delta members has no merged row, and
      // losing its key would let a later extension resurrect it
      mergedNd.where(size(col("cands")) > maxBucketSize)
        .select(col("t"), col("bucket"))
        .unionByName(oldNdDropped).distinct(),
      metaRow)
  }

  /** The screen body shared by [[embeddingIngestScreen]] (derived or
    * passed indexes) and [[embeddingIngestScreenFromState]] (persisted
    * artifact): row-local hash/bucket keys, ≤ 1+tables 1:≤1 index
    * probes, and array-expression verdict reduction — one row per
    * arrival end to end, no state store. */
  private def embeddingIngestScreenCore(
      embs: DataFrame,
      bench: DataFrame,
      idx: DataFrame,
      ndIdx: DataFrame,
      tau: Double,
      tauNearDup: Double,
      bits: Int,
      tables: Int): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions.dotProduct
    import graft.operators.Similarity.lshTableBucketCol
    def asDouble(c: Column): Column = c.cast("array<double>")
    val benchRow = bench
      .select(col("vec_id").as("q_vec_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_nrm", sqrt(dotProduct(col("q_emb"), col("q_emb"))))
      .agg(collect_list(
        struct(col("q_vec_id"), col("q_emb"), col("q_nrm"))).as("_bench"))
    val n = embs
      .select(col("vec_id"), asDouble(col("embedding")).as("_emb"))
      .withColumn("_nrm", sqrt(dotProduct(col("_emb"), col("_emb"))))
      .withColumn("_hkey", xxhash64(col("_emb")))
    val exAnchor = array_min(transform(
      filter(col("cands"), c => c.getField("hemb") === col("_emb")),
      c => c.getField("hid")))
    // ≤ tables 1:≤1 probes of the near-dup index; candidate arrays ride
    // the row, the cosine confirm + min-id anchor reduce row-locally
    val probed = (0 until tables).foldLeft(
      n.join(idx.withColumnRenamed("hkey", "_hkey"), Seq("_hkey"), "left")) {
      (cur, t) =>
        cur.join(
          ndIdx.where(col("t") === t.toLong)
            .select(col("bucket").as(s"_nb$t"), col("cands").as(s"_nc$t")),
          lshTableBucketCol(col("_emb"), t, bits) === col(s"_nb$t"), "left")
          .drop(s"_nb$t")
    }
    def candCos(c: Column): Column = round(
      dotProduct(c.getField("hemb"), col("_emb")) /
        (c.getField("hnrm") * col("_nrm")), 6)
    val ndAnchor = array_min(transform(
      filter(flatten(array_compact(
        array((0 until tables).map(t => col(s"_nc$t")): _*))),
        c => candCos(c) >= tauNearDup),
      c => c.getField("hid")))
    def cosOf(b: Column): Column = round(
      dotProduct(b.getField("q_emb"), col("_emb")) /
        (b.getField("q_nrm") * col("_nrm")), 6)
    val best = array_max(transform(
      filter(col("_bench"), b =>
        b.getField("q_vec_id") =!= col("vec_id") && cosOf(b) >= tau),
      b => struct(cosOf(b).as("cos"),
        (-b.getField("q_vec_id")).as("negid"),
        b.getField("q_vec_id").as("qid"))))
    probed
      .crossJoin(broadcast(benchRow))
      .withColumn("_ex", exAnchor)
      .withColumn("_nd", ndAnchor)
      .withColumn("_ct", best.getField("qid"))
      .select(col("vec_id"),
        when(col("_ex").isNotNull, lit("dropped_exact"))
          .when(col("_nd").isNotNull, lit("dropped_near_dup"))
          .when(col("_ct").isNotNull, lit("dropped_contaminated"))
          .otherwise(lit("kept")).as("stage"),
        coalesce(col("_ex"), col("_nd"), col("_ct")).as("anchor"))
  }

  /** The static per-(table, bucket) candidate index behind
    * [[embeddingIngestScreen]]'s near-dup stage — the
    * [[mediaNearDupIndex]] recipe over the [[graft.operators
    * .Similarity.lshNearDupPairs]] multi-table hyperplane family:
    * (t, bucket) → array⟨(hid, hemb, hnrm)⟩ with hot buckets
    * (> maxBucketSize members) dropped WHOLE at build (hot is a
    * history property — the against-history convention). Build once
    * per history snapshot, persist (or write), pass back via
    * `precomputedNearDupIndex`. */
  def embeddingNearDupIndex(
      history: DataFrame,
      bits: Int = 4,
      tables: Int = 4,
      maxBucketSize: Int = graft.operators.Similarity.MaxPairBucket): DataFrame = {
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")
    embeddingNdBuckets(history, bits, tables)
      .where(size(col("cands")) <= maxBucketSize)
  }

  /** [[embeddingNearDupIndex]] WITHOUT the hot-bucket guard — the raw
    * (t, bucket) → candidate-array aggregation the state builder
    * splits into kept + dropped and [[extendEmbeddingIngestState]]
    * builds its delta buckets through (hot is decided on MERGED
    * sizes, never on delta sizes). */
  private def embeddingNdBuckets(
      history: DataFrame, bits: Int, tables: Int): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions.dotProduct
    import graft.operators.Similarity.lshTableBucketCol
    history
      .select(col("vec_id").as("hid"),
        col("embedding").cast("array<double>").as("hemb"))
      .withColumn("hnrm", sqrt(dotProduct(col("hemb"), col("hemb"))))
      .select(col("hid"), col("hemb"), col("hnrm"),
        explode(array((0 until tables).map(t =>
          struct(lit(t.toLong).as("t"),
            lshTableBucketCol(col("hemb"), t, bits).as("bucket"))): _*))
          .as("tb"))
      .groupBy(col("tb.t").as("t"), col("tb.bucket").as("bucket"))
      .agg(collect_list(
        struct(col("hid"), col("hemb"), col("hnrm"))).as("cands"))
  }

  /** The static exact-screen index behind [[embeddingIngestScreen]]:
    * ONE row per xxhash64 key over the DISTINCT history vectors —
    * (hkey, cands = array⟨(hemb, hid)⟩) where hid is the smallest
    * vec_id carrying that exact vector (the batch anchor rule) and
    * hemb rides along for the row-local equality confirm. Distinct
    * BY CONSTRUCTION: index size = distinct vectors, not corpus
    * rows. Build once per history snapshot, persist (or write), pass
    * back via `precomputedIndex`. */
  def embeddingIngestIndex(history: DataFrame): DataFrame =
    history
      .select(col("vec_id"), col("embedding").cast("array<double>").as("hemb"))
      .groupBy(col("hemb")).agg(min(col("vec_id")).as("hid"))
      .groupBy(xxhash64(col("hemb")).as("hkey"))
      .agg(collect_list(struct(col("hemb"), col("hid"))).as("cands"))

  /**
   * Serve-time STATE for streaming ANN queries — a
   * [[graft.operators.Similarity.buildAnnIndex]] layout repackaged as
   * the candidate-ARRAY shape every streaming screen probes (the
   * [[embeddingNearDupIndex]] recipe for IVF cells), so
   * [[annSearchStream]] stays stateless and row-local:
   *  - `section = "cells"`: one row per inverted list —
   *    (cell, cands = array⟨(vec_id, emb, nrm)⟩). The read resolves
   *    the index's CURRENT committed generation (the compaction
   *    version pointer), pushes `filter` into the cell-file scan as a
   *    parquet predicate (the [[graft.operators.Similarity
   *    .searchAnnIndexedFiltered]] layout argument), and FOLDS the
   *    pending tombstone set out of the arrays — a snapshot: deletes
   *    after this build need a rebuilt state, like every FromState
   *    artifact;
   *  - `section = "cents"`: ONE row carrying the full centroid table
   *    as an array — the same executor-memory class as the batch
   *    probes' `broadcast(cents)`;
   *  - `section = "meta"`: ONE row recording whether a filter was
   *    baked in (the loud was-this-built-here check);
   *  - `section = "files"`: one row per data file of the generation the
   *    snapshot read (relative path in the meta column) — the base
   *    [[refreshAnnServeState]] diffs against, so an append's new files
   *    can be patched in WITHOUT re-reading the whole index.
   * A cell's array is ~stride members by construction; a degenerate
   * quantizer makes hot arrays, which
   * [[graft.operators.Similarity.annIndexStats]] surfaces BEFORE a
   * serve state is built (list skew = probe latency either way).
   *
   * @param filter predicate over metadata columns stored in the cell
   *        files at build time — baked into the snapshot (a stream
   *        start owns its filter; per-query filtering is a different
   *        op)
   */
  def annServeState(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      filter: Option[Column] = None): DataFrame = {
    val (cellsAt, tombsAt) = graft.operators.Similarity.resolvedIndex(spark, path)
    // capture the file list FIRST and read the cells from that explicit
    // list: a concurrent append landing between a directory-scoped read
    // and the listing would record files in the artifact's files
    // section that the arrays never read — a later refresh would then
    // permanently omit those rows while the freshness guard passes.
    // With the capture-first order the files section exactly matches
    // what the arrays contain (a racing append reads as DRIFT, the
    // loud outcome).
    val files = listDataFiles(spark, cellsAt)
    val scan = readCellFiles(spark, cellsAt, files)
    val (pred, filterMeta) = serializedFilter(scan, filter, "annServeState")
    val rawCells = scan
      .where(pred.getOrElse(lit(true)))
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell").cast("long"))
    val fs = new org.apache.hadoop.fs.Path(tombsAt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val live =
      if (fs.exists(new org.apache.hadoop.fs.Path(tombsAt)))
        rawCells.join(broadcast(spark.read.parquet(tombsAt)),
          Seq("vec_id"), "left_anti")
      else rawCells
    val cellRows = live.groupBy(col("cell"))
      .agg(collect_list(struct(col("vec_id"), col("emb"), col("nrm"))).as("cands"))
    val centsRow = spark.read
      .parquet(graft.operators.Similarity.resolvedCentroids(spark, path))
      .agg(collect_list(
        struct(col("cent_id"), col("c_emb"), col("c_nrm"))).as("cents"))
    serveStateAssembly(spark, cellRows, centsRow,
      filterMeta + serveSnapshotMeta(spark, path, Some(files)),
      files)
  }

  /**
   * Serialize a serve-tier metadata predicate into the artifact's meta
   * row — the mechanism that makes FILTERED serve artifacts
   * refreshable and maintainable instead of refused: Catalyst renders
   * every declarative column expression to ANSI SQL (`Expression.sql`),
   * which parses back through `expr(...)`, so the predicate CAN travel
   * with the snapshot. Contract (all failures loud, at build time):
   *  - the predicate must be DETERMINISTIC (a `rand()`-dependent bake
   *    could never be re-applied to appended rows consistently);
   *  - the SQL rendering must round-trip: the parsed-back predicate is
   *    analyzed against the same scan and its canonicalized plan must
   *    equal the original's — a rendering that drifts (an unregistered
   *    UDF, a closure-captured value with no literal form) refuses
   *    naming the predicate, it never bakes something it cannot prove;
   *  - the build then applies the PARSED predicate, so the stored
   *    string and the baked snapshot are the same object by
   *    construction — `filtered=2;filterSql=<base64 of the SQL>` (the
   *    base64 alphabet cannot collide with the `k=v;` meta framing).
   * `filtered=1` artifacts (pre-serialization builds) still exist in
   * the wild; [[refreshAnnServeState]] / [[maintainAnnIndexServing]]
   * keep refusing those with a rebuild hint.
   *
   * @return (the validated predicate to apply, the meta fragment)
   */
  private def serializedFilter(
      scan: DataFrame,
      filter: Option[Column],
      builder: String): (Option[Column], String) = filter match {
    case None => (None, "filtered=0;")
    case Some(f) =>
      val origPlan =
        try scan.where(f).queryExecution.analyzed
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"$builder: the metadata filter does not analyze against " +
                s"the index's stored columns (${e.getMessage}) — only " +
                "predicates over the metaCols the index build persisted " +
                "can be baked into a serve artifact", e)
        }
      val cond = origPlan.collectFirst {
        case flt: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          flt.condition
      }.getOrElse(throw new IllegalStateException(
        s"$builder: analyzed filter plan carries no Filter node"))
      require(cond.deterministic,
        s"$builder: the metadata filter must be deterministic — a " +
          "non-deterministic predicate baked into a snapshot could " +
          "never be re-applied to appended rows at refresh")
      val sql =
        try cond.sql
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"$builder: the metadata filter has no SQL rendering " +
              s"(${e.getMessage}) — only declarative column expressions " +
              "over the stored metadata columns serialize into the " +
              "artifact; rewrite the predicate without UDFs/closures", e)
        }
      val parsed = expr(sql)
      val parsedPlan =
        try scan.where(parsed).queryExecution.analyzed
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"$builder: the metadata filter's SQL rendering '$sql' " +
                s"does not re-analyze against the index's stored " +
                s"columns (${e.getMessage}) — rewrite the predicate as " +
                "a plain column expression (no UDFs/closures)", e)
        }
      require(origPlan.canonicalized == parsedPlan.canonicalized,
        s"$builder: the metadata filter's SQL rendering '$sql' does " +
          "not round-trip to the same predicate — it cannot be baked " +
          "into the artifact without risking silent drift at refresh; " +
          "rewrite it as a plain column expression")
      val b64 = java.util.Base64.getEncoder.encodeToString(
        sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (Some(parsed), s"filtered=2;filterSql=$b64;")
  }

  /** Decode the predicate a `filtered=2` serve artifact carries —
    * the [[serializedFilter]] inverse; absence fails naming the
    * builder (a `filtered=2` meta without `filterSql` is a corrupted
    * or hand-edited artifact). */
  private def decodedFilter(
      params: Map[String, String], builder: String): Column = {
    require(params.contains("filterSql"),
      s"$builder artifact declares filtered=2 but carries no filterSql " +
        s"meta key — the artifact is corrupted; rebuild with $builder")
    expr(new String(
      java.util.Base64.getDecoder.decode(params("filterSql")),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The `filtered=…` meta fragment a refresh/rebuild carries forward
    * from an existing artifact's params — `filtered=2;filterSql=…;`
    * when a serialized predicate rides along, else `filtered=0;`. */
  private def filterMetaOf(params: Map[String, String]): String =
    if (params.getOrElse("filtered", "0") == "2")
      s"filtered=2;filterSql=${params("filterSql")};"
    else "filtered=0;"

  /** Read index rows from an EXPLICIT relative-path file list (the
    * capture-first discipline every serve build and refresh shares);
    * `basePath` keeps the `cell` partition column. */
  private def readCellFiles(
      spark: org.apache.spark.sql.SparkSession,
      cellsAt: String,
      files: Seq[String]): DataFrame =
    spark.read.option("basePath", cellsAt)
      .parquet(files.map(f => s"$cellsAt/$f"): _*)

  /** Assemble a serve artifact from its parts — shared by the full
    * builds ([[annServeState]] / [[annServeHammingState]] /
    * [[annServeInt8State]]) and [[refreshAnnServeState]] (delta
    * patch), so the two paths cannot drift in shape. `candsName` is
    * the tier's candidate-column name — DISTINCT per tier (`cands` /
    * `h_cands` / `i_cands` / `pq_cands`) so a mis-paired artifact
    * fails the serve entry point's schema guard by name. */
  private def serveStateAssembly(
      spark: org.apache.spark.sql.SparkSession,
      cellRows: DataFrame,
      centsRow: DataFrame,
      metaStr: String,
      files: Seq[String],
      candsName: String = "cands"): DataFrame = {
    import spark.implicits._
    val candsT = cellRows.schema(candsName).dataType
    val centsT = centsRow.schema("cents").dataType
    // NOT persisted (measured r13): caching the assembled union forces
    // eager full materialization and pins its shuffles at the fixed
    // partition count (InMemoryRelation plans skip AQE), which measured
    // 2-3× SLOWER end-to-end than letting each consumer's
    // section-filtered read prune the union lazily.
    cellRows.select(
        lit("cells").as("section"), col("cell"), col(candsName),
        lit(null).cast(centsT).as("cents"),
        lit(null).cast("string").as("meta"))
      .unionByName(centsRow.select(
        lit("cents").as("section"), lit(null).cast("long").as("cell"),
        lit(null).cast(candsT).as(candsName), col("cents"),
        lit(null).cast("string").as("meta")))
      .unionByName(spark.range(1).select(
        lit("meta").as("section"), lit(null).cast("long").as("cell"),
        lit(null).cast(candsT).as(candsName),
        lit(null).cast(centsT).as("cents"),
        lit(metaStr).as("meta")))
      .unionByName(files.toDF("_f").select(
        lit("files").as("section"), lit(null).cast("long").as("cell"),
        lit(null).cast(candsT).as(candsName),
        lit(null).cast(centsT).as("cents"),
        col("_f").as("meta")))
  }

  /** FULL-OUTER concat-merge of a SMALL delta's keyed arrays into a
    * LARGE keyed frame with the large side streaming through a real
    * BroadcastHashJoin. Spark supports NO broadcast full-outer join —
    * a `broadcast(...)` hint on one is silently dropped and the plan
    * degrades to a shuffle of BOTH sides, the exact O(history) cost
    * the extend* / refresh operators exist to avoid. The equivalent
    * is composed from three broadcast-able pieces:
    *  1. `big ⟕ broadcast(delta)` patches keys the artifact already
    *     holds (BroadcastHashJoin LeftOuter, build right — the big
    *     side never moves);
    *  2. `big.keys ⋉ broadcast(delta.keys)` finds which delta keys
    *     matched — a column-pruned second pass over the big side's
    *     KEY columns only, still shuffle-free (BroadcastHashJoin
    *     LeftSemi), output ≤ |delta| rows;
    *  3. `delta ▷ broadcast(matched)` appends first-ever keys
    *     (BroadcastHashJoin LeftAnti, build right).
    * Row-for-row ≡ `big ⟗ delta` + the null-coalescing merge. The
    * small-delta broadcast contract is the extend* scaladocs'; the
    * big side is read twice (full pass + key pass), so artifacts
    * should be parquet-backed per the artifact convention — both
    * passes are then pruned scans, not plan re-executions.
    *
    * @param merge combines the two sides where a key exists in both
    */
  private def broadcastFullOuterMerge(
      big: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      valueCol: String,
      deltaCol: String,
      merge: (Column, Column) => Column): DataFrame = {
    val keyCols = keys.map(col)
    // the delta feeds THREE legs; without a persist each broadcast
    // rematerializes its whole derivation (for a serve refresh that is
    // a per-cell-file delta scan ×3 — measured 2× a full rebuild before
    // this persist). Delta-small by the operators' broadcast contract,
    // so one spillable frame — the documented single-persist fallback.
    val d = graft.Caching.persist(delta)
    val patched = big.join(broadcast(d), keys, "left_outer")
      .select(keyCols :+
        when(col(deltaCol).isNull, col(valueCol))
          .otherwise(merge(col(valueCol), col(deltaCol))).as(valueCol): _*)
    val matched = big.select(keyCols: _*)
      .join(broadcast(d.select(keyCols: _*)), keys, "left_semi")
    val fresh = d.join(broadcast(matched), keys, "left_anti")
      .select(keyCols :+ col(deltaCol).as(valueCol): _*)
    patched.unionByName(fresh)
  }

  /** The snapshot coordinates a serve artifact records at build:
    * the index's committed generation and its DISTINCT pending-delete
    * count (distinct so a retried delete does not fake drift).
    *
    * @param cellFiles the DATA-file list the builder already captured
    *        (and will read its cell arrays from) — pass it so the
    *        recorded `n_cell_files` counts exactly the files the
    *        arrays contain: a concurrent append landing between the
    *        capture and a second FS walk would otherwise stamp a
    *        count the arrays never read, and both the freshness guard
    *        AND a later refresh would silently trust it. The "now"
    *        side ([[requireServeStateCurrent]]) omits it and lists
    *        fresh — the same data-file measure, current state. */
  private def serveSnapshotMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cellFiles: Option[Seq[String]] = None): String = {
    import graft.operators.Similarity
    val (cellsAt, tombsAt) = Similarity.resolvedIndex(spark, path)
    val fs = new org.apache.hadoop.fs.Path(tombsAt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val nTombs =
      if (fs.exists(new org.apache.hadoop.fs.Path(tombsAt)))
        spark.read.parquet(tombsAt).distinct().count()
      else 0L
    // cell DATA-file count moves on every append (appends never
    // rewrite, they add files), so appended-but-unserved rows are
    // drift too; counted over the same hidden-excluded listing the
    // files section records, so the two can never disagree
    val nCellFiles = cellFiles.getOrElse(listDataFiles(spark, cellsAt)).size
    s"generation=${Similarity.committedGeneration(spark, path)};" +
      s"n_tombstones=$nTombs;n_cell_files=$nCellFiles"
  }

  /** Collect a state artifact's ONE meta row and parse it into a
    * validated key→value map — the loud-failure form of the bare
    * `split('=')` indexing it replaces at every FromState / serve
    * entry point: a malformed meta row or a MIS-PAIRED artifact (a
    * float [[annServeState]] handed to [[annSearchStreamPq]], an
    * [[ingestState]] handed to a media screen) fails with a
    * `require(...)` naming the builder the entry point expects,
    * instead of a raw ArrayIndexOutOfBounds / NoSuchElement deep in
    * plan construction. Driver-side action: the 1-row collect every
    * caller already paid. */
  private def artifactMeta(
      state: DataFrame,
      builder: String,
      required: Seq[String],
      metaCol: String = "meta"): Map[String, String] = {
    val metaRows = state.where(col("section") === "meta")
      .select(col(metaCol)).collect()
    require(metaRows.length == 1,
      s"$builder artifact must carry exactly one meta row, found " +
        s"${metaRows.length} — was this frame built by $builder?")
    val metaStr = if (metaRows(0).isNullAt(0)) null else metaRows(0).getString(0)
    require(metaStr != null && metaStr.nonEmpty,
      s"$builder artifact meta row is empty — was this frame built by " +
        s"$builder?")
    val tokens = metaStr.split(';')
    val bad = tokens.filter(t => t.indexOf('=') <= 0)
    require(bad.isEmpty,
      s"$builder artifact meta row has malformed entr" +
        s"${if (bad.length == 1) "y" else "ies"} ${bad.mkString("[", ", ", "]")}" +
        s" (expected k=v;k=v;…) — was this frame built by $builder?")
    val params = tokens.map { t =>
      val i = t.indexOf('=')
      t.substring(0, i) -> t.substring(i + 1)
    }.toMap
    val missing = required.filterNot(params.contains)
    require(missing.isEmpty,
      s"$builder artifact meta row is missing ${missing.mkString(", ")} " +
        s"(found: ${params.keys.toSeq.sorted.mkString(", ")}) — this frame " +
        s"was built by an OLDER convention or a DIFFERENT builder; " +
        s"rebuild it with $builder")
    params
  }

  /** A meta parameter that must be an integer — validated like
    * [[artifactMeta]]'s shape checks (a corrupted value fails naming
    * the artifact, not with a bare NumberFormatException). */
  private def metaInt(
      params: Map[String, String], key: String, builder: String): Int =
    try params(key).toInt
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$builder artifact meta key $key=${params(key)} is not an " +
          s"integer — was this frame built by $builder?")
    }

  /** [[metaInt]] for double-valued meta parameters — a corrupted
    * value fails naming the artifact and key, not with a bare
    * NumberFormatException. */
  private def metaDouble(
      params: Map[String, String], key: String, builder: String): Double =
    try params(key).toDouble
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$builder artifact meta key $key=${params(key)} is not a " +
          s"number — was this frame built by $builder?")
    }

  /** ONE-ROW order-free content identity of a history snapshot —
    * [[graft.operators.Pipeline.corpusChecksum]]'s commutative 60-bit
    * row-hash fold, single-group, emitted as `"<n_rows>:<sum>"`: any
    * partitioning / ordering / retry of the same content produces the
    * same string; one changed byte, one lost row, or one duplicate
    * moves it. Exact: summed as DECIMAL(38,0), good to ~10^19 rows. */
  private def historyChecksumRow(
      df: DataFrame, keyCols: Seq[String], payloadCol: String): DataFrame = {
    val key = concat_ws(",", keyCols.map(c => col(c).cast("string")): _*)
    val rowHash = org.apache.spark.sql.graft.VectorFunctions.hexLong(md5(concat(
        lit("ck:"), key, lit(":"), md5(col(payloadCol).cast("string")))),
      1, 15).cast("decimal(38,0)")
    df.agg(count(lit(1)).as("_n"),
        coalesce(sum(rowHash), lit(0).cast("decimal(38,0)")).as("_s"))
      .select(concat(col("_n").cast("string"), lit(":"),
        col("_s").cast("string")).as("_ck"))
  }

  /** The meta-string tail every history-derived screen state records
    * at build: the column spec the checksum read plus the checksum
    * itself — SELF-DESCRIBING, so [[requireScreenStateHistoryCurrent]]
    * recomputes over the caller's frame without being told the
    * artifact's shape. Returned as a 1-row frame (the checksum is a
    * lazy aggregate over history — the artifact's one materialization
    * pays it, builders stay plan constructors). */
  private def historyMetaTailRow(
      history: DataFrame, keyCols: Seq[String], payloadCol: String): DataFrame =
    historyChecksumRow(history, keyCols, payloadCol)
      .select(concat(
        lit(s"historyKey=${keyCols.mkString(",")};" +
          s"historyPayload=$payloadCol;historyChecksum="),
        col("_ck")).as("_tail"))

  /**
   * HISTORY-FRESHNESS guard for screen-state artifacts —
   * [[requireServeStateCurrent]] generalized to the four
   * history-derived screens ([[ingestState]], [[embeddingIngestState]],
   * [[mediaScreenState]], [[mediaWindowScreenState]]): a screen state
   * is a SNAPSHOT of its history corpus, so rebuilding or extending
   * the history after the build makes every stream still serving from
   * the old artifact silently miss the new history (or keep matching
   * rows the history no longer holds) — the same quiet-staleness
   * class the serve-state coordinates kill for the ANN tier, which
   * for these artifacts has no index directory to read coordinates
   * from. The identity is therefore CONTENT: the artifact records an
   * order-free checksum of the history at build
   * ([[graft.operators.Pipeline.corpusChecksum]]'s fold — the q134
   * "same snapshot?" primitive), and this guard recomputes it over
   * the caller's CURRENT history frame and fails loudly on drift,
   * naming the fix. Call at stream start and on the redeploy cadence;
   * partitioning/ordering of the history frame is irrelevant by
   * construction. Cost: one scan of the history projection — the
   * price of never serving a stale screen silently.
   */
  def requireScreenStateHistoryCurrent(
      state: DataFrame, history: DataFrame): Unit = {
    val builder = "ingestState / embeddingIngestState / mediaScreenState" +
      " / mediaWindowScreenState"
    val metaCol = if (state.columns.contains("meta")) "meta" else "fp"
    val params = artifactMeta(state, builder,
      required = Seq("historyKey", "historyPayload", "historyChecksum"),
      metaCol = metaCol)
    val keyCols = params("historyKey").split(',').toSeq
    val now = historyChecksumRow(history, keyCols, params("historyPayload"))
      .head().getString(0)
    require(params("historyChecksum") == now,
      s"STALE screen state: built over history snapshot " +
        s"${params("historyChecksum")} (rows:checksum over " +
        s"key=${params("historyKey")}, payload=${params("historyPayload")}), " +
        s"but the supplied history reads $now — a stream serving from " +
        "this artifact silently misses history added since the build " +
        "(or keeps matching rows it no longer holds); rebuild the state " +
        "from the current history and restart from the new artifact")
  }

  /**
   * FRESHNESS guard for serve artifacts — a serve state is a SNAPSHOT
   * (tombstones folded, cells frozen at build), so a delete or
   * compaction landing AFTER the build makes every stream still
   * serving from it silently wrong (deleted rows keep being returned
   * — the exact quiet-wrongness class the meta rows exist to kill).
   * Call at stream start (and on a redeploy cadence): compares the
   * artifact's recorded (generation, distinct-tombstone-count) against
   * the index's CURRENT coordinates and fails loudly on drift naming
   * the fix — rebuild the serve state. Works for every serve tier —
   * [[annServeState]], [[annServePqState]], [[annServeHammingState]],
   * [[annServeInt8State]] — all four record the coordinates.
   */
  def requireServeStateCurrent(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      state: DataFrame): Unit = {
    val keys = Seq("generation", "n_tombstones", "n_cell_files")
    val params = artifactMeta(state,
      "annServeState / annServePqState / annServeHammingState / " +
        "annServeInt8State",
      required = keys)
    val now = serveSnapshotMeta(spark, path).split(';')
      .map(_.split('=')).map(kv => kv(0) -> kv(1)).toMap
    require(keys.forall(k => params(k) == now(k)),
      s"STALE serve state for $path: built at " +
        keys.map(k => s"$k=${params(k)}").mkString(", ") +
        s"; index is now at " + keys.map(k => s"$k=${now(k)}").mkString(", ") +
        " — a stream serving from this artifact returns deleted rows or " +
        "misses appends/compactions silently; rebuild the serve state " +
        "from the current index")
  }

  /**
   * ONE-ROW observability for a serve artifact — the pre-deploy radar
   * the serve tier was missing (the `annIndexStats` convention,
   * applied to the packaged artifact instead of the index dirs): the
   * tier resolves from the frame itself ([[serveTierOf]]), and the
   * row reads the artifact's OWN sections — no index directory
   * needed, so a parquet-shipped artifact is inspectable wherever it
   * lands. Columns: `tier`, `filtered` (was a predicate baked in),
   * `n_cells` (inverted lists with ≥1 member), `n_members` (total
   * candidates — for a filtered artifact this is the PREDICATE
   * population, the number a capacity plan actually needs),
   * `max_cell` / `avg_cell` (list skew = probe latency — the same
   * signal `annIndexStats` surfaces before a build), and the snapshot
   * coordinates (`generation`, `n_tombstones`, `n_cell_files`) the
   * freshness guard compares. Cost: one pass over the cells section.
   */
  def serveStateStats(state: DataFrame): DataFrame = {
    val (tier, builder, candsName) = serveTierOf(state)
    val params = artifactMeta(state, builder,
      required = Seq("generation", "n_tombstones", "n_cell_files"))
    state.where(col("section") === "cells")
      .select(size(col(candsName)).as("_n"))
      .agg(
        count(lit(1)).as("n_cells"),
        coalesce(sum(col("_n")), lit(0)).cast("long").as("n_members"),
        coalesce(max(col("_n")), lit(0)).cast("long").as("max_cell"),
        coalesce(round(avg(col("_n")), 6), lit(0.0)).as("avg_cell"))
      .select(
        lit(tier).as("tier"),
        lit(params.getOrElse("filtered", "0") != "0").as("filtered"),
        col("n_cells"), col("n_members"), col("max_cell"), col("avg_cell"),
        lit(params("generation")).cast("long").as("generation"),
        lit(params("n_tombstones")).cast("long").as("n_tombstones"),
        lit(params("n_cell_files")).cast("long").as("n_cell_files"))
  }

  /** Serve-tier dispatch by candidate-column schema: (tier, builder,
    * candsName). Every serve artifact names its tier through a
    * DISTINCT candidate column, so the lifecycle operators
    * ([[refreshAnnServeState]], [[maintainAnnIndexServing]]) resolve
    * the builder from the frame itself instead of trusting a caller
    * tag. */
  private def serveTierOf(state: DataFrame): (String, String, String) = {
    val cols = state.columns.toSet
    if (cols("pq_cands")) ("pq", "annServePqState", "pq_cands")
    else if (cols("h_cands")) ("hamming", "annServeHammingState", "h_cands")
    else if (cols("i_cands")) ("int8", "annServeInt8State", "i_cands")
    else if (cols("cands")) ("float", "annServeState", "cands")
    else throw new IllegalArgumentException(
      "not a serve artifact: the frame carries none of cands / pq_cands " +
        "/ h_cands / i_cands — was it built by annServeState / " +
        "annServePqState / annServeHammingState / annServeInt8State?")
  }

  /**
   * O(delta) REFRESH of a serve artifact after [[graft.operators
   * .Similarity.appendAnnIndex]] — the incremental bookend of the
   * serve tier: append is delta-proportional, but rebuilding a serve
   * state re-read and re-grouped EVERY cell file. This patch instead
   * diffs the index's current data files against the file set the
   * artifact recorded at build (`section = "files"`), reads ONLY the
   * new files (the appended rows — `basePath` keeps the cell
   * partition column), encodes them in the ARTIFACT'S OWN tier —
   * resolved from the frame itself ([[serveTierOf]]): float vectors
   * verbatim, PQ codes through the artifact's FROZEN codebook section
   * (the q229 frozen-quantizer contract: appends never re-derive the
   * second-stage quantizer), Hamming sign bits at the meta row's
   * `bits`, int8 stats via the shared `int8Coded` expressions — and
   * concatenates the delta's per-cell candidate arrays onto the
   * existing rows via [[broadcastFullOuterMerge]]: untouched cells
   * stream through a real BroadcastHashJoin unshuffled (plan-pinned —
   * no SortMergeJoin/ShuffledHashJoin anywhere in the refresh).
   *
   * COST, honestly measured (ServeRefreshStressMain, 100k×64 at
   * local[32]): the patch reads the ARTIFACT (nested-array decode) +
   * the delta files and rewrites the artifact — it never re-reads the
   * raw index and never shuffles, but at this scale that trades
   * 1.1–1.9× a full rebuild's wall-clock, because the rebuild's index
   * scan and re-group shuffle are nearly free on one box. The refresh
   * term wins where the shuffle is network-priced (the 1000-executor
   * argument) or where the rebuild's per-row derivation dominates
   * (signature/code corpora — the hamming tier is already near parity
   * locally); on a single box with a cheap quantizer, just rebuild.
   *
   * STRICTLY append-only by loud guards (everything else needs a full
   * rebuild with the artifact's builder):
   *  - a FILTERED artifact built since the predicate-serialization
   *    convention (`filtered=2`) refreshes fine — the delta rows pass
   *    through the artifact's own decoded predicate
   *    ([[serializedFilter]]) before encoding; a pre-convention opaque
   *    one (`filtered=1`) refuses with a one-time-rebuild hint;
   *  - a generation or tombstone drift refuses (a compaction re-keys
   *    the file universe; a delete must fold OUT of the arrays, not
   *    concat in);
   *  - a PQ delta carrying a row at a CODEBOOK SEED position refuses —
   *    a from-scratch rebuild over the grown index would derive a
   *    different codebook, so the frozen-codebook patch would diverge
   *    from the rebuild contract;
   *  - an artifact from before the files-section convention refuses.
   * The returned frame is a CURRENT artifact (fresh snapshot
   * coordinates + file list) — [[requireServeStateCurrent]] passes on
   * it, and the tier's serving screen over it is row-identical to a
   * from-scratch build (StreamingSpec pins float and PQ end-to-end).
   */
  def refreshAnnServeState(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      state: DataFrame): DataFrame = {
    import graft.operators.Similarity
    val (tier, builder, candsName) = serveTierOf(state)
    val tierKeys = tier match {
      case "pq" => Seq("filtered", "m", "subDim", "k", "pqStride")
      case "hamming" => Seq("bits", "filtered")
      case _ => Seq("filtered")
    }
    val params = artifactMeta(state, builder,
      required = tierKeys ++ Seq("generation", "n_tombstones", "n_cell_files"))
    require(params("filtered") != "1",
      "refreshAnnServeState: this artifact baked an OPAQUE metadata " +
        "filter (built before the predicate-serialization convention) — " +
        "the predicate cannot be recovered from the artifact alone; " +
        s"rebuild ONCE with the current $builder(path, filter) and " +
        "refreshes will work from then on (the predicate now travels " +
        "in the meta row)")
    // a filtered=2 artifact carries its own predicate — decode it so
    // the delta rows pass through the exact expression the build baked
    val servePred: Option[Column] =
      if (params("filtered") == "2") Some(decodedFilter(params, builder))
      else None
    val now = serveSnapshotMeta(spark, path).split(';')
      .map(_.split('=')).map(kv => kv(0) -> kv(1)).toMap
    require(params("generation") == now("generation") &&
        params("n_tombstones") == now("n_tombstones"),
      s"refreshAnnServeState: the index moved past appends — artifact " +
        s"built at generation=${params("generation")}, " +
        s"n_tombstones=${params("n_tombstones")}; index is now at " +
        s"generation=${now("generation")}, " +
        s"n_tombstones=${now("n_tombstones")} — a delete or compaction " +
        "cannot be patched in (tombstones fold OUT of the arrays); " +
        s"rebuild with $builder")
    val recorded = state.where(col("section") === "files")
      .select(col("meta")).collect().map(_.getString(0)).toSet
    require(recorded.nonEmpty,
      "refreshAnnServeState: this artifact predates the files-section " +
        s"convention (no section = \"files\" rows) — rebuild it once with " +
        s"$builder to enable incremental refresh")
    val (cellsAt, tombsAt) = Similarity.resolvedIndex(spark, path)
    val current = listDataFiles(spark, cellsAt)
    val vanished = recorded -- current.toSet
    require(vanished.isEmpty,
      s"refreshAnnServeState: ${vanished.size} file(s) the artifact read " +
        s"are GONE from $cellsAt (e.g. ${vanished.head}) despite an " +
        "unchanged generation — the layout was mutated outside the " +
        s"lifecycle operators; rebuild with $builder")
    val newFiles = current.filterNot(recorded)
    val oldCells = state.where(col("section") === "cells")
      .select(col("cell"), col(candsName))
    val centsRow = state.where(col("section") === "cents").select(col("cents"))
    // the PQ codebook travels IN the artifact — the frozen quantizer
    // the delta rows are encoded with (KB-scale bounded collect)
    lazy val cb: Array[Array[Array[Double]]] = {
      val cbRows = state.where(col("section") === "codebook")
        .select(col("codebook")).collect()
      require(cbRows.length == 1,
        "annServePqState artifact must carry exactly one codebook row")
      cbRows(0).getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](0)
        .map(_.map(_.toArray).toArray).toArray
    }
    val metaPrefix = tier match {
      case "pq" => filterMetaOf(params) +
        s"m=${params("m")};subDim=${params("subDim")};" +
        s"k=${params("k")};pqStride=${params("pqStride")};"
      case "hamming" => s"bits=${params("bits")};" + filterMetaOf(params)
      case _ => filterMetaOf(params)
    }
    val metaStr = metaPrefix + serveSnapshotMeta(spark, path, Some(current))
    def assembled(cells: DataFrame): DataFrame = tier match {
      case "pq" => pqServeAssembly(spark, cells, centsRow, cb, metaStr, current)
      case _ => serveStateAssembly(spark, cells, centsRow, metaStr, current,
        candsName = candsName)
    }
    if (newFiles.isEmpty) return assembled(oldCells)
    val fresh = readCellFiles(spark, cellsAt, newFiles)
      .withColumn("cell", col("cell").cast("long"))
    // appendAnnIndex refuses tombstoned ids and the coordinates above
    // pin the set unchanged, so new rows are clean by construction; the
    // anti-join is defense in depth at O(delta) cost
    val fs = new org.apache.hadoop.fs.Path(tombsAt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val freshLive =
      if (fs.exists(new org.apache.hadoop.fs.Path(tombsAt)))
        fresh.join(broadcast(spark.read.parquet(tombsAt)),
          Seq("vec_id"), "left_anti")
      else fresh
    // the artifact's own predicate prunes the delta exactly as the
    // build pruned the base scan; the PQ seed-clash check below stays
    // UNFILTERED on purpose — the rebuild contract's codebook reads
    // unfiltered live rows, so seed positions are filter-independent
    val freshKept = servePred.map(freshLive.where).getOrElse(freshLive)
    // tier-specific delta encoding — each matches its builder's
    // candidate struct field-for-field (the assembly shares the code,
    // so a drift would fail the unionByName, not ship)
    val deltaCells = (tier match {
      case "float" => freshKept.select(col("cell"),
        struct(col("vec_id"), col("emb"), col("nrm")).as("_c"))
      case "pq" =>
        val k = metaInt(params, "k", builder)
        val pqStride = metaInt(params, "pqStride", builder)
        val subDim = metaInt(params, "subDim", builder)
        val seedClash = freshLive
          .where(pmod(col("vec_id"), lit(pqStride)) === 0 &&
            col("vec_id") < k.toLong * pqStride)
          .select(col("vec_id")).limit(1).collect()
        require(seedClash.isEmpty,
          s"refreshAnnServeState: appended vec_id " +
            s"${seedClash.headOption.map(_.getLong(0)).getOrElse(-1L)} sits " +
            s"at a PQ codebook seed position (vec_id ≡ 0 mod $pqStride, " +
            s"< ${k.toLong * pqStride}) — a from-scratch annServePqState " +
            "over the grown index would derive a DIFFERENT codebook, so " +
            "patching with the artifact's frozen codebook would diverge " +
            "from the rebuild contract; rebuild with annServePqState")
        freshKept.select(col("cell"),
          struct(col("vec_id").as("n_vec_id"),
            Similarity.pqCodesCol(col("emb"), cb, subDim).as("codes")).as("_c"))
      case "hamming" =>
        val bits = metaInt(params, "bits", builder)
        freshKept.select(col("cell"),
          struct(col("vec_id").as("n_vec_id"),
            Similarity.lshBucketCol(col("emb"), bits).as("sig")).as("_c"))
      case _ => Similarity.int8Coded(
          freshKept.select(col("vec_id"), col("emb").as("embedding"),
            col("cell")), "n_", carry = Seq("cell"))
        .select(col("cell"), struct(
          col("n_vec_id"), col("n_q").as("q"), col("n_min").as("minv"),
          col("n_s").as("scale"), col("n_d").as("d"), col("n_sum").as("sum"),
          col("n_qq").as("qq")).as("_c"))
    }).groupBy(col("cell")).agg(collect_list(col("_c")).as("_dcands"))
    // broadcast the delta side: untouched cell rows pass through the
    // join unshuffled; a cell whose first-ever member arrives in the
    // delta (a previously-empty inverted list) enters via the
    // anti-join leg of [[broadcastFullOuterMerge]]
    val merged = broadcastFullOuterMerge(oldCells, deltaCells, Seq("cell"),
      candsName, "_dcands", concat(_, _))
    assembled(merged)
  }

  /**
   * ONE-CALL maintenance WITH serve-artifact repair — the composition
   * [[graft.operators.Similarity.maintainAnnIndex]]'s
   * `serve_state_stale` flag left as caller prose: run the measure →
   * compact → vacuum loop, then bring the SUPPLIED serve artifact back
   * to CURRENT by whichever repair its drift class admits —
   *  - coordinates unchanged → `none` (the artifact passes through);
   *  - append-only drift (same generation, same tombstones, more cell
   *    files) → `refreshed`, the O(delta) [[refreshAnnServeState]];
   *  - anything else (a delete landed, or this very call compacted) →
   *    `rebuilt`, a from-scratch build with the artifact's OWN builder
   *    and parameters (tier and m/subDim/k/pqStride/bits all resolve
   *    from the frame — the caller repeats nothing).
   * A FILTERED artifact built since the predicate-serialization
   * convention (`filtered=2`) repairs like any other — the baked
   * predicate decodes from the meta row and both arms re-apply it; a
   * pre-convention opaque one (`filtered=1`) refuses upfront with a
   * one-time-rebuild hint.
   *
   * Returns (report, artifact): the report is [[graft.operators
   * .Similarity.maintainAnnIndex]]'s row plus a `serve_action` column
   * (`none` / `refreshed` / `rebuilt`); the artifact ALWAYS passes
   * [[requireServeStateCurrent]] on return (SimilaritySpec pins all
   * three drift classes). q228/q228b keep the base report's oracle —
   * this wrapper adds a column, it never changes the index decisions.
   */
  def maintainAnnIndexServing(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      serveState: DataFrame,
      maxDebtFrac: Double = 0.2,
      reclaimRetained: Boolean = false): (DataFrame, DataFrame) = {
    import graft.operators.Similarity
    val (tier, builder, _) = serveTierOf(serveState)
    val tierKeys = tier match {
      case "pq" => Seq("filtered", "m", "subDim", "k", "pqStride")
      case "hamming" => Seq("bits", "filtered")
      case _ => Seq("filtered")
    }
    val params = artifactMeta(serveState, builder,
      required = tierKeys ++ Seq("generation", "n_tombstones", "n_cell_files"))
    require(params("filtered") != "1",
      "maintainAnnIndexServing: this artifact baked an OPAQUE metadata " +
        "filter (built before the predicate-serialization convention) — " +
        "no automatic repair can reproduce it; maintain the index with " +
        s"maintainAnnIndex and rebuild ONCE with the current " +
        s"$builder(path, filter) — repairs will work from then on (the " +
        "predicate now travels in the meta row)")
    // a filtered=2 artifact's predicate rides the meta row — the
    // rebuild arm re-applies it, so a filtered serve state is repaired
    // with the SAME baked predicate the original build validated
    val servePred: Option[Column] =
      if (params("filtered") == "2") Some(decodedFilter(params, builder))
      else None
    val report = Similarity.maintainAnnIndex(
      spark, path, maxDebtFrac, reclaimRetained)
    val now = serveSnapshotMeta(spark, path).split(';')
      .map(_.split('=')).map(kv => kv(0) -> kv(1)).toMap
    val coordKeys = Seq("generation", "n_tombstones", "n_cell_files")
    val (action, artifact) =
      if (coordKeys.forall(k => params(k) == now(k))) ("none", serveState)
      else if (params("generation") == now("generation") &&
          params("n_tombstones") == now("n_tombstones"))
        ("refreshed", refreshAnnServeState(spark, path, serveState))
      else ("rebuilt", tier match {
        case "pq" => annServePqState(spark, path,
          m = metaInt(params, "m", builder),
          subDim = metaInt(params, "subDim", builder),
          k = metaInt(params, "k", builder),
          pqStride = metaInt(params, "pqStride", builder),
          filter = servePred)
        case "hamming" => annServeHammingState(spark, path,
          bits = metaInt(params, "bits", builder), filter = servePred)
        case "int8" => annServeInt8State(spark, path, filter = servePred)
        case _ => annServeState(spark, path, filter = servePred)
      })
    (report.withColumn("serve_action", lit(action)), artifact)
  }

  /**
   * STREAMING → INDEX ingestion — the sink that closes the
   * live-corpus→searchable loop the ingest screens left open: the
   * embedding-ingest screen emits `kept` arrivals, and until now
   * nothing landed them in the ANN index. A `foreachBatch` sink over
   * [[graft.operators.Similarity.appendAnnIndexIdempotent]]: each
   * micro-batch's (vec_id, embedding) rows are assigned with the
   * index's FROZEN centroids and appended under a batch-id key, so a
   * replayed batch (foreachBatch is at-least-once) lands each vector
   * EXACTLY ONCE — marker short-circuit on clean replays, a
   * batch-key-prefixed file sweep on crashed ones (the
   * [[exactlyOnceParquetSink]] idempotence recipe, applied to an
   * APPEND-shaped layout where dynamic partition overwrite would
   * clobber other batches' rows in the same cell). Racing compactions
   * fail loudly naming the re-run recovery; probes see a batch's
   * vectors after its append commits (StreamingSpec pins replay
   * checksum-identity and post-commit visibility).
   *
   * Serve artifacts do NOT auto-refresh here — appends move the
   * index's file coordinate, and the serving side repairs on its own
   * cadence via [[maintainAnnIndexServing]] / [[refreshAnnServeState]]
   * (a per-micro-batch artifact rebuild would turn an O(delta) append
   * into an O(artifact) rewrite per batch).
   *
   * @param vectors streaming (vec_id, embedding) — e.g. the `kept`
   *        rows of [[embeddingIngestScreen]]
   */
  def annIndexIngestSink(
      vectors: DataFrame,
      path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.operators.Similarity.appendAnnIndexIdempotent(
          batch.sparkSession, batch.toDF().select(col("vec_id"), col("embedding")),
          path, s"b$id"))
      .start()

  /**
   * STREAMING ANN QUERY SERVING — the vector twin of [[searchStream]]
   * (the lexical index has had one since round 7; this closes the
   * bookend): a stream of (vec_id, embedding) query rows scored
   * against a materialized IVF index via one persisted
   * [[annServeState]] artifact, entirely STATELESS and row-local:
   *
   *  - probe selection: the arriving row ranks the (1-row broadcast)
   *    centroid array by (cosine desc, cent_id) with a row-local
   *    `sort_array` and keeps its top `nProbe` cells — the exact
   *    [[graft.operators.Similarity.ivfCosineTopK]] probe definition
   *    (same argmax, same tie-break);
   *  - candidate fetch: ≤ nProbe 1:≤1 left joins against the
   *    per-cell candidate arrays (tombstones already folded at state
   *    build) — never an explode before the verdict;
   *  - re-rank: the round-6 cosine, (cos desc, vec_id) ordering, and
   *    top-k cut reduce the carried arrays with array expressions on
   *    the ONE row; `posexplode` then emits (q_vec_id, n_vec_id, cos,
   *    rank) — ≤ k rows per arrival, rank gaps impossible by
   *    construction.
   *
   * Batch parity is pinned in StreamingSpec: same queries through
   * [[graft.operators.Similarity.searchAnnIndexed]] and this screen,
   * row-identical — including after a delete (the state build folds
   * the tombstone set exactly like the batch probe's anti-join) and
   * under a metadata filter (parity with `searchAnnIndexedFiltered`).
   *
   * @param queries streaming (vec_id, embedding)
   * @param state a (persisted or parquet-read) [[annServeState]]
   * @return streaming (q_vec_id, n_vec_id, cos, rank)
   */
  def annSearchStream(
      queries: DataFrame,
      state: DataFrame,
      k: Int,
      nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions.dotProduct
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    // mis-pair guard before the meta read: a PQ artifact carries
    // pq_cands (code bytes, no float vectors) — scoring it here would
    // die on an unresolved column deep in plan construction
    require(state.columns.contains("cands"),
      "annSearchStream expects a FLOAT annServeState artifact (cands " +
        "column); this frame has no cands — an annServePqState artifact " +
        "(pq_cands) pairs with annSearchStreamPq")
    artifactMeta(state, "annServeState", required = Seq("filtered"))
    val idx = state.where(col("section") === "cells")
      .select(col("cell"), col("cands"))
    val centsRow = state.where(col("section") === "cents").select(col("cents"))
    val q = queries
      .select(col("vec_id").as("q_vec_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      .withColumn("q_nrm", sqrt(dotProduct(col("q_emb"), col("q_emb"))))
    // row-local ivfProbes: ascending sort on (−cos, cent_id) ≡ the
    // batch window's (cos desc, cent_id) — negation is exact for IEEE
    // doubles, so ties break identically
    def centCos(c: Column): Column =
      dotProduct(c.getField("c_emb"), col("q_emb")) /
        (c.getField("c_nrm") * col("q_nrm"))
    val probes = slice(sort_array(transform(col("cents"), c =>
      struct((-centCos(c)).as("negccos"),
        c.getField("cent_id").as("cell")))), 1, nProbe)
    val probed = (0 until nProbe).foldLeft(
      q.crossJoin(broadcast(centsRow)).withColumn("_probes", probes)) {
      (cur, i) =>
        cur.join(
          idx.select(col("cell").as(s"_pc$i"), col("cands").as(s"_cd$i")),
          when(size(col("_probes")) > i,
            element_at(col("_probes"), i + 1).getField("cell"))
            .otherwise(lit(null)) === col(s"_pc$i"),
          "left")
          .drop(s"_pc$i")
    }
    // row-local ivfRerank: self excluded, round-6 cosine, ascending
    // (−cos, vec_id) ≡ (cos desc, vec_id), top-k slice
    def candCos(c: Column): Column = round(
      dotProduct(c.getField("emb"), col("q_emb")) /
        (c.getField("nrm") * col("q_nrm")), 6)
    val allCands = flatten(array_compact(
      array((0 until nProbe).map(i => col(s"_cd$i")): _*)))
    val top = slice(sort_array(transform(
      filter(allCands, c => c.getField("vec_id") =!= col("q_vec_id")),
      c => struct((-candCos(c)).as("negcos"),
        c.getField("vec_id").as("n_vec_id"), candCos(c).as("cos")))), 1, k)
    probed
      .withColumn("_top", top)
      .select(col("q_vec_id"), posexplode(col("_top")).as(Seq("_pos", "_c")))
      .select(col("q_vec_id"), col("_c.n_vec_id").as("n_vec_id"),
        col("_c.cos").as("cos"), (col("_pos") + 1).cast("long").as("rank"))
  }

  /**
   * PQ-COMPRESSED serve state — [[annServeState]]'s memory-tier twin
   * (the IVF-ADC composition of `ivfPqTopK` as a serving artifact):
   * each cell's candidate array carries (n_vec_id, codes) — m code
   * bytes per member instead of the full float vector, the 32× lever
   * that keeps a 10⁹-vector serve state RAM-resident — and the
   * deterministic PQ CODEBOOK (m·k·subDim doubles, KB-scale) rides IN
   * the artifact as its own section, the state-artifact convention: a
   * stream start cannot pair the codes with a foreign codebook, which
   * would score garbage silently. Codebook and codes derive from the
   * index's LIVE rows (current generation, tombstones folded), so the
   * artifact is a self-consistent snapshot like its float twin.
   * Sections: `cells` (cell, pq_cands), `cents` (one centroid-array
   * row), `codebook` (one nested-array row), `meta` (filtered;m;
   * subDim;k;pqStride + the snapshot coordinates), `files` (the data
   * files the code arrays were read from — the
   * [[refreshAnnServeState]] diff base, like the float twin).
   *
   * @param filter predicate over metadata columns stored in the cell
   *        files at build time — baked into the snapshot like the
   *        float twin's, pushed into the cell-file scan, and pruning
   *        the CANDIDATE arrays only: the coarse centroids and the PQ
   *        codebook stay FROZEN full-live-corpus artifacts (the q222
   *        "quantizer never rebuilds per predicate" contract extended
   *        to the second quantization stage — [[graft.operators
   *        .Similarity.ivfPqTopKFiltered]] is the batch twin, parity
   *        pinned in StreamingSpec). At 10⁹ vectors this is the
   *        composition the 32×-memory tier needs to serve a
   *        metadata-scoped stream.
   */
  def annServePqState(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      m: Int = graft.operators.Similarity.PqM,
      subDim: Int = graft.operators.Similarity.PqSubDim,
      k: Int = graft.operators.Similarity.PqK,
      pqStride: Int = graft.operators.Similarity.PqStride,
      filter: Option[Column] = None): DataFrame = {
    import graft.operators.Similarity
    val (cellsAt, tombsAt) = Similarity.resolvedIndex(spark, path)
    val fs = new org.apache.hadoop.fs.Path(tombsAt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // capture-first (the annServeState discipline): the files section
    // must record exactly the files the code arrays were read from
    val files = listDataFiles(spark, cellsAt)
    val scan = readCellFiles(spark, cellsAt, files)
    val (pred, filterMeta) = serializedFilter(scan, filter, "annServePqState")
    // live rows of the snapshot; the predicate (when present) applies
    // to the raw scan so it pushes into the cell files as a parquet
    // filter over the stored metadata columns
    def liveRows(p: Option[Column]): DataFrame = {
      val cells = p.map(scan.where).getOrElse(scan)
        .select(col("vec_id"), col("emb"), col("cell").cast("long"))
      if (fs.exists(new org.apache.hadoop.fs.Path(tombsAt)))
        cells.join(broadcast(spark.read.parquet(tombsAt)),
          Seq("vec_id"), "left_anti")
      else cells
    }
    // FROZEN second-stage quantizer: the codebook reads the UNFILTERED
    // live rows, so codes are filter-independent — two predicates over
    // the same index share every quantizer artifact, and parity with
    // the batch ivfPqTopKFiltered holds code-for-code
    val cb = Similarity.pqCodebook(
      liveRows(None).select(col("vec_id"), col("emb").as("embedding")),
      m, subDim, k, pqStride)
    val cellRows = liveRows(pred)
      .select(col("cell"), struct(col("vec_id").as("n_vec_id"),
        Similarity.pqCodesCol(col("emb"), cb, subDim).as("codes")).as("c"))
      .groupBy(col("cell")).agg(collect_list(col("c")).as("pq_cands"))
    val centsRow = spark.read
      .parquet(graft.operators.Similarity.resolvedCentroids(spark, path))
      .agg(collect_list(
        struct(col("cent_id"), col("c_emb"), col("c_nrm"))).as("cents"))
    pqServeAssembly(spark, cellRows, centsRow, cb,
      filterMeta + s"m=$m;subDim=$subDim;k=$k;pqStride=$pqStride;" +
        serveSnapshotMeta(spark, path, Some(files)),
      files)
  }

  /** Assemble the PQ serve artifact from its parts — shared by
    * [[annServePqState]] (full build) and [[refreshAnnServeState]]
    * (delta patch), so the two paths cannot drift in shape. Sections:
    * cells / cents / codebook / meta / files. */
  private def pqServeAssembly(
      spark: org.apache.spark.sql.SparkSession,
      cellRows: DataFrame,
      centsRow: DataFrame,
      cb: Array[Array[Array[Double]]],
      metaStr: String,
      files: Seq[String]): DataFrame = {
    import spark.implicits._
    val cbRow = spark.range(1).select(
      typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq).as("codebook"))
    val candsT = cellRows.schema("pq_cands").dataType
    val centsT = centsRow.schema("cents").dataType
    val cbT = cbRow.schema("codebook").dataType
    def row(section: String, cell: Column, cands: Column, cents: Column,
        codebook: Column, meta: Column) =
      Seq(lit(section).as("section"), cell.as("cell"), cands.as("pq_cands"),
        cents.as("cents"), codebook.as("codebook"), meta.as("meta"))
    // not persisted — the serveStateAssembly rationale (measured r13)
    cellRows.select(row("cells", col("cell"), col("pq_cands"),
        lit(null).cast(centsT), lit(null).cast(cbT),
        lit(null).cast("string")): _*)
      .unionByName(centsRow.select(row("cents", lit(null).cast("long"),
        lit(null).cast(candsT), col("cents"), lit(null).cast(cbT),
        lit(null).cast("string")): _*))
      .unionByName(cbRow.select(row("codebook", lit(null).cast("long"),
        lit(null).cast(candsT), lit(null).cast(centsT), col("codebook"),
        lit(null).cast("string")): _*))
      .unionByName(spark.range(1).select(row("meta", lit(null).cast("long"),
        lit(null).cast(candsT), lit(null).cast(centsT), lit(null).cast(cbT),
        lit(metaStr)): _*))
      .unionByName(files.toDF("_f").select(row("files",
        lit(null).cast("long"), lit(null).cast(candsT),
        lit(null).cast(centsT), lit(null).cast(cbT), col("_f")): _*))
  }

  /**
   * PQ-compressed streaming ANN serving — [[annSearchStream]] in the
   * compressed domain (`ivfPqTopK`'s IVF-ADC composition, live): the
   * arriving query row picks its nProbe cells against the carried
   * centroid array (the exact batch probe definition), builds its m×k
   * ADC LOOKUP TABLE row-locally from the artifact's codebook (baked
   * as plan literals at start — the KB-scale bounded collect of the
   * pqCodebook convention), and scores every carried candidate by m
   * `element_at` picks + a fixed-order sum — the float vector is
   * touched by NEITHER side. Row-identical to `ivfPqTopK` over the
   * index's live rows (StreamingSpec, incl. a post-delete rebuild).
   *
   * @return streaming (q_vec_id, n_vec_id, adc, rank)
   */
  def annSearchStreamPq(
      queries: DataFrame,
      state: DataFrame,
      kTop: Int,
      nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions.dotProduct
    require(kTop > 0, s"kTop must be positive, got $kTop")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    // mis-pair guard before the meta read: a float artifact carries
    // cands (full vectors, no codes/codebook) — its meta also lacks the
    // PQ keys, but the schema check names the mistake most directly
    require(state.columns.contains("pq_cands"),
      "annSearchStreamPq expects a PQ annServePqState artifact (pq_cands " +
        "column); this frame has no pq_cands — a float annServeState " +
        "artifact (cands) pairs with annSearchStream")
    val params = artifactMeta(state, "annServePqState",
      required = Seq("m", "subDim", "k", "pqStride"))
    val m = metaInt(params, "m", "annServePqState")
    val subDim = metaInt(params, "subDim", "annServePqState")
    val cbRows = state.where(col("section") === "codebook")
      .select(col("codebook")).collect()
    require(cbRows.length == 1,
      "annServePqState artifact must carry exactly one codebook row")
    val cb = cbRows(0).getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](0)
      .map(_.map(_.toArray).toArray).toArray
    val idx = state.where(col("section") === "cells")
      .select(col("cell"), col("pq_cands"))
    val centsRow = state.where(col("section") === "cents").select(col("cents"))
    val q = queries
      .select(col("vec_id").as("q_vec_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      .withColumn("q_nrm", sqrt(dotProduct(col("q_emb"), col("q_emb"))))
    def centCos(c: Column): Column =
      dotProduct(c.getField("c_emb"), col("q_emb")) /
        (c.getField("c_nrm") * col("q_nrm"))
    val probes = slice(sort_array(transform(col("cents"), c =>
      struct((-centCos(c)).as("negccos"),
        c.getField("cent_id").as("cell")))), 1, nProbe)
    // the per-query ADC lookup table — the batch `lut` expression
    // verbatim, evaluated once per arriving row
    val lut = array((0 until m).map { s =>
      val qSub = slice(col("q_emb"), s * subDim + 1, subDim)
      array(cb(s).indices.map(j =>
        dotProduct(qSub, typedLit(cb(s)(j).toSeq))): _*)
    }: _*)
    val probed = (0 until nProbe).foldLeft(
      q.crossJoin(broadcast(centsRow))
        .withColumn("_probes", probes).withColumn("_lut", lut)) {
      (cur, i) =>
        cur.join(
          idx.select(col("cell").as(s"_pc$i"), col("pq_cands").as(s"_cd$i")),
          when(size(col("_probes")) > i,
            element_at(col("_probes"), i + 1).getField("cell"))
            .otherwise(lit(null)) === col(s"_pc$i"),
          "left")
          .drop(s"_pc$i")
    }
    def adcOf(c: Column): Column = round(
      (0 until m).map { s =>
        element_at(element_at(col("_lut"), s + 1),
          element_at(c.getField("codes"), s + 1) + lit(1))
      }.reduce(_ + _), 6)
    val allCands = flatten(array_compact(
      array((0 until nProbe).map(i => col(s"_cd$i")): _*)))
    val top = slice(sort_array(transform(
      filter(allCands, c => c.getField("n_vec_id") =!= col("q_vec_id")),
      c => struct((-adcOf(c)).as("negadc"),
        c.getField("n_vec_id").as("n_vec_id"), adcOf(c).as("adc")))), 1, kTop)
    probed
      .withColumn("_top", top)
      .select(col("q_vec_id"), posexplode(col("_top")).as(Seq("_pos", "_c")))
      .select(col("q_vec_id"), col("_c.n_vec_id").as("n_vec_id"),
        col("_c.adc").as("adc"), (col("_pos") + 1).cast("long").as("rank"))
  }

  /**
   * BINARY-HAMMING serve state — the 42× rung of the serve-memory
   * ladder ([[annServeState]] holds floats, [[annServePqState]] m code
   * bytes, this ONE packed long per member): each cell's candidate
   * array carries (n_vec_id, sig) with sig = the index row's
   * [[graft.operators.Similarity.binarySignatures]] sign bits, derived
   * from the LIVE rows of the current generation (tombstones folded,
   * capture-first file list — the float twin's snapshot discipline
   * verbatim). Sections: `cells` (cell, h_cands), `cents` (one
   * centroid-array row — probes still rank cells in FLOAT space, the
   * coarse quantizer is not compressed), `meta` (bits + snapshot
   * coordinates), `files` (the [[refreshAnnServeState]] diff base).
   * The serving screen is [[annSearchStreamHamming]]; with nProbe
   * covering every cell it reproduces the flat
   * [[graft.operators.Similarity.hammingTopK]] row-for-row
   * (StreamingSpec), and the q230 oracle pins the probed-cell tier.
   */
  def annServeHammingState(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      bits: Int = 48,
      filter: Option[Column] = None): DataFrame = {
    import graft.operators.Similarity
    require(bits >= 8 && bits <= 62,
      s"bits must be in [8, 62] (packed into one signed long), got $bits")
    val (cellsAt, tombsAt) = Similarity.resolvedIndex(spark, path)
    val files = listDataFiles(spark, cellsAt)
    val scan = readCellFiles(spark, cellsAt, files)
    val (pred, filterMeta) =
      serializedFilter(scan, filter, "annServeHammingState")
    val raw = scan
      .where(pred.getOrElse(lit(true)))
      .select(col("vec_id"), col("emb"), col("cell").cast("long"))
    val fs = new org.apache.hadoop.fs.Path(tombsAt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val live =
      if (fs.exists(new org.apache.hadoop.fs.Path(tombsAt)))
        raw.join(broadcast(spark.read.parquet(tombsAt)),
          Seq("vec_id"), "left_anti")
      else raw
    val cellRows = live
      .select(col("cell"), struct(col("vec_id").as("n_vec_id"),
        Similarity.lshBucketCol(col("emb"), bits).as("sig")).as("c"))
      .groupBy(col("cell")).agg(collect_list(col("c")).as("h_cands"))
    val centsRow = spark.read
      .parquet(graft.operators.Similarity.resolvedCentroids(spark, path))
      .agg(collect_list(
        struct(col("cent_id"), col("c_emb"), col("c_nrm"))).as("cents"))
    serveStateAssembly(spark, cellRows, centsRow,
      s"bits=$bits;" + filterMeta + serveSnapshotMeta(spark, path, Some(files)),
      files, candsName = "h_cands")
  }

  /**
   * Streaming HAMMING ANN serving — [[annSearchStream]] in the binary
   * domain: the arriving query row picks its nProbe cells against the
   * carried float centroid array (the exact batch probe definition),
   * derives its OWN sign signature row-locally (the same md5
   * hyperplane family as the artifact's — `bits` rides in the meta
   * row, so the two sides can never disagree on width), and scores
   * every carried candidate with one XOR + popcount — ranked
   * (hamming asc, n_vec_id), the [[graft.operators.Similarity
   * .hammingTopK]] ordering. Integer-exact: no rounding contract on
   * the distance. With nProbe covering every cell the result is
   * row-identical to the flat `hammingTopK` over the index's live
   * rows (StreamingSpec pins it, incl. post-delete).
   *
   * @return streaming (q_vec_id, n_vec_id, hamming, rank)
   */
  def annSearchStreamHamming(
      queries: DataFrame,
      state: DataFrame,
      k: Int,
      nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions.dotProduct
    import graft.operators.Similarity
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    require(state.columns.contains("h_cands"),
      "annSearchStreamHamming expects a HAMMING annServeHammingState " +
        "artifact (h_cands column); this frame has no h_cands — float " +
        "(cands), PQ (pq_cands) and int8 (i_cands) artifacts pair with " +
        "annSearchStream / annSearchStreamPq / annSearchStreamInt8")
    val params = artifactMeta(state, "annServeHammingState",
      required = Seq("bits"))
    val bits = metaInt(params, "bits", "annServeHammingState")
    val idx = state.where(col("section") === "cells")
      .select(col("cell"), col("h_cands"))
    val centsRow = state.where(col("section") === "cents").select(col("cents"))
    val q = queries
      .select(col("vec_id").as("q_vec_id"),
        col("embedding").cast("array<double>").as("q_emb"))
      .withColumn("q_nrm", sqrt(dotProduct(col("q_emb"), col("q_emb"))))
      .withColumn("q_sig", Similarity.lshBucketCol(col("q_emb"), bits))
    def centCos(c: Column): Column =
      dotProduct(c.getField("c_emb"), col("q_emb")) /
        (c.getField("c_nrm") * col("q_nrm"))
    val probes = slice(sort_array(transform(col("cents"), c =>
      struct((-centCos(c)).as("negccos"),
        c.getField("cent_id").as("cell")))), 1, nProbe)
    val probed = (0 until nProbe).foldLeft(
      q.crossJoin(broadcast(centsRow)).withColumn("_probes", probes)) {
      (cur, i) =>
        cur.join(
          idx.select(col("cell").as(s"_pc$i"), col("h_cands").as(s"_cd$i")),
          when(size(col("_probes")) > i,
            element_at(col("_probes"), i + 1).getField("cell"))
            .otherwise(lit(null)) === col(s"_pc$i"),
          "left")
          .drop(s"_pc$i")
    }
    val allCands = flatten(array_compact(
      array((0 until nProbe).map(i => col(s"_cd$i")): _*)))
    // natural ascending struct order ≡ the batch window's
    // (hamming asc, n_vec_id) — both fields sort ascending
    val top = slice(sort_array(transform(
      filter(allCands, c => c.getField("n_vec_id") =!= col("q_vec_id")),
      c => struct(
        bit_count(col("q_sig").bitwiseXOR(c.getField("sig"))).cast("long")
          .as("hamming"),
        c.getField("n_vec_id").as("n_vec_id")))), 1, k)
    probed
      .withColumn("_top", top)
      .select(col("q_vec_id"), posexplode(col("_top")).as(Seq("_pos", "_c")))
      .select(col("q_vec_id"), col("_c.n_vec_id").as("n_vec_id"),
        col("_c.hamming").as("hamming"),
        (col("_pos") + 1).cast("long").as("rank"))
  }

  /**
   * INT8-SDC serve state — the 4× rung of the serve-memory ladder:
   * each cell's candidate array carries the [[graft.operators
   * .Similarity.int8SdcTopK]] candidate stats (byte codes + the five
   * per-vector correction terms) instead of the float vector, derived
   * from the LIVE rows of the current generation via the SHARED
   * `int8Coded` expressions — the serve tier and the batch operator
   * quantize identically by construction. Sections: `cells`
   * (cell, i_cands), `cents`, `meta` (snapshot coordinates), `files`.
   * Serving screen: [[annSearchStreamInt8]]; with nProbe covering
   * every cell it reproduces the flat `int8SdcTopK` row-for-row
   * (StreamingSpec), and the q231 oracle pins the probed-cell tier.
   */
  def annServeInt8State(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      filter: Option[Column] = None): DataFrame = {
    import graft.operators.Similarity
    val (cellsAt, tombsAt) = Similarity.resolvedIndex(spark, path)
    val files = listDataFiles(spark, cellsAt)
    val scan = readCellFiles(spark, cellsAt, files)
    val (pred, filterMeta) = serializedFilter(scan, filter, "annServeInt8State")
    val raw = scan
      .where(pred.getOrElse(lit(true)))
      .select(col("vec_id"), col("emb").as("embedding"), col("cell").cast("long"))
    val fs = new org.apache.hadoop.fs.Path(tombsAt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val live =
      if (fs.exists(new org.apache.hadoop.fs.Path(tombsAt)))
        raw.join(broadcast(spark.read.parquet(tombsAt)),
          Seq("vec_id"), "left_anti")
      else raw
    val cellRows = Similarity.int8Coded(live, "n_", carry = Seq("cell"))
      .select(col("cell"), struct(
        col("n_vec_id"), col("n_q").as("q"), col("n_min").as("minv"),
        col("n_s").as("scale"), col("n_d").as("d"), col("n_sum").as("sum"),
        col("n_qq").as("qq")).as("c"))
      .groupBy(col("cell")).agg(collect_list(col("c")).as("i_cands"))
    val centsRow = spark.read
      .parquet(graft.operators.Similarity.resolvedCentroids(spark, path))
      .agg(collect_list(
        struct(col("cent_id"), col("c_emb"), col("c_nrm"))).as("cents"))
    serveStateAssembly(spark, cellRows, centsRow,
      filterMeta + serveSnapshotMeta(spark, path, Some(files)),
      files, candsName = "i_cands")
  }

  /**
   * Streaming INT8-SDC ANN serving — [[annSearchStream]] in the
   * quantized domain: the arriving query row quantizes ITSELF with the
   * shared `int8Coded` expressions (stateless column ops — per-vector
   * affine codes depend on nothing but the row), picks its nProbe
   * cells against the carried float centroids, and scores every
   * carried candidate with the [[graft.operators.Similarity
   * .int8SdcTopK]] algebraic expansion REPLAYED VERBATIM (the exact
   * integer inner product over byte cells + the fixed-order double
   * correction), ranked (cos_sdc desc NULLS LAST, n_vec_id). With
   * nProbe covering every cell the result is row-identical to the
   * flat `int8SdcTopK` over the index's live rows (StreamingSpec,
   * incl. post-delete).
   *
   * @return streaming (q_vec_id, n_vec_id, cos_sdc, rank)
   */
  def annSearchStreamInt8(
      queries: DataFrame,
      state: DataFrame,
      kTop: Int,
      nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions.dotProduct
    import graft.operators.Similarity
    require(kTop > 0, s"kTop must be positive, got $kTop")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    require(state.columns.contains("i_cands"),
      "annSearchStreamInt8 expects an INT8 annServeInt8State artifact " +
        "(i_cands column); this frame has no i_cands — float (cands), " +
        "PQ (pq_cands) and hamming (h_cands) artifacts pair with " +
        "annSearchStream / annSearchStreamPq / annSearchStreamHamming")
    artifactMeta(state, "annServeInt8State",
      required = Seq("generation", "n_tombstones", "n_cell_files"))
    val idx = state.where(col("section") === "cells")
      .select(col("cell"), col("i_cands"))
    val centsRow = state.where(col("section") === "cents").select(col("cents"))
    val q = Similarity.int8Coded(
        queries.select(col("vec_id"), col("embedding")), "q_",
        carry = Seq("embedding"))
      .withColumn("q_emb", col("embedding").cast("array<double>"))
      .withColumn("q_nrm", sqrt(dotProduct(col("q_emb"), col("q_emb"))))
      .drop("embedding")
    def centCos(c: Column): Column =
      dotProduct(c.getField("c_emb"), col("q_emb")) /
        (c.getField("c_nrm") * col("q_nrm"))
    val probes = slice(sort_array(transform(col("cents"), c =>
      struct((-centCos(c)).as("negccos"),
        c.getField("cent_id").as("cell")))), 1, nProbe)
    val probed = (0 until nProbe).foldLeft(
      q.crossJoin(broadcast(centsRow)).withColumn("_probes", probes)) {
      (cur, i) =>
        cur.join(
          idx.select(col("cell").as(s"_pc$i"), col("i_cands").as(s"_cd$i")),
          when(size(col("_probes")) > i,
            element_at(col("_probes"), i + 1).getField("cell"))
            .otherwise(lit(null)) === col(s"_pc$i"),
          "left")
          .drop(s"_pc$i")
    }
    // the int8SdcTopK score tree verbatim: exact long inner product,
    // then the fixed-order double corrections (q-side stats from the
    // shared int8Coded, candidate stats from the carried struct)
    def sdcOf(c: Column): Column = {
      val ipq = aggregate(
        zip_with(col("q_q"), c.getField("q"), (a, b) => (a * b).cast("long")),
        lit(0L), (s, v) => s + v)
      val ip = col("q_min") * c.getField("minv") * c.getField("d") +
        col("q_min") * c.getField("scale") * c.getField("sum") +
        c.getField("minv") * col("q_s") * col("q_sum") +
        col("q_s") * c.getField("scale") * ipq
      val nq = col("q_min") * col("q_min") * col("q_d") +
        lit(2.0) * col("q_min") * col("q_s") * col("q_sum") +
        col("q_s") * col("q_s") * col("q_qq")
      val nn = c.getField("minv") * c.getField("minv") * c.getField("d") +
        lit(2.0) * c.getField("minv") * c.getField("scale") *
          c.getField("sum") +
        c.getField("scale") * c.getField("scale") * c.getField("qq")
      when(nq > 0 && nn > 0, round(ip / (sqrt(nq) * sqrt(nn)), 6))
    }
    val allCands = flatten(array_compact(
      array((0 until nProbe).map(i => col(s"_cd$i")): _*)))
    // ascending (coalesced −cos_sdc, n_vec_id) ≡ the batch window's
    // (cos_sdc DESC NULLS LAST, n_vec_id): a null score (zero-norm
    // reconstruction) coalesces to +∞ and sorts last, exactly the
    // batch nulls-last rule
    val top = slice(sort_array(transform(
      filter(allCands, c => c.getField("n_vec_id") =!= col("q_vec_id")),
      c => struct(
        coalesce(-sdcOf(c), lit(Double.MaxValue)).as("negsdc"),
        c.getField("n_vec_id").as("n_vec_id"),
        sdcOf(c).as("cos_sdc")))), 1, kTop)
    probed
      .withColumn("_top", top)
      .select(col("q_vec_id"), posexplode(col("_top")).as(Seq("_pos", "_c")))
      .select(col("q_vec_id"), col("_c.n_vec_id").as("n_vec_id"),
        col("_c.cos_sdc").as("cos_sdc"),
        (col("_pos") + 1).cast("long").as("rank"))
  }

  /**
   * Streaming KL-NOVELTY screen — the row-local twin of
   * [[graft.operators.Pipeline.klNoveltyAgainst]]: each arriving doc
   * is scored against the FROZEN reference unigram distribution,
   * carried as a ONE-ROW broadcast model frame (derived once, at the
   * stream's plan construction). Stateless: no state store, no
   * stream-side shuffle — the model join is a broadcast stream-static
   * cross of one row; per-row cost is O(distinct·len) over the token
   * array. Values are EXACT — same
   * micro-nat quantization, same operation order — so StreamingSpec
   * pins equality with the batch tier, not a tolerance. Reference
   * refresh = restart with a re-derived map (the blue/green shape).
   * Unlike the batch tier, EVERY arrival emits a row (a token-less
   * doc scores 0/0/0) — an ingest audit covers everything it saw.
   *
   * MODEL BOUND: a raw unigram vocabulary is corpus-shaped (10⁸+ terms
   * at web scale), so carrying it whole would make the reference model
   * a memory bottleneck. The model is therefore HARD-BOUNDED to the
   * `maxModelTerms` highest-mass terms (ties broken by term —
   * deterministic on both engines; the retrieval is a TakeOrdered,
   * never a global sort). Terms pruned from the model are treated
   * exactly like terms the history never saw — q150's unseen-mass
   * convention: excluded from the KL sum, counted in `n_unseen` — and
   * the denominator `ctot` stays the FULL history token total (a
   * 1-row aggregate, no vocabulary materialization), so every kept
   * term's contribution is IDENTICAL at any bound; only the head/tail
   * split moves.
   *
   * MODEL SHAPE: the bounded (term → count) head rides as a MAP column
   * in a ONE-ROW model frame joined in as a broadcast stream-static
   * cross (the annSearchStream cents-row recipe) — never collected to
   * the driver, never baked as a plan literal: a 2^20-entry `typedLit`
   * map would ship a MB-scale expression tree in every task's plan
   * copy, where the broadcast form ships it once per executor through
   * the block manager.
   */
  def klScreen(
      docs: DataFrame,
      historyDocs: DataFrame,
      maxModelTerms: Int = 1 << 20): DataFrame = {
    import graft.operators.Dedup
    require(maxModelTerms > 0, s"maxModelTerms must be positive, got $maxModelTerms")
    val histCtf = Dedup.termWeights(historyDocs)
      .groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    // the one-row model: the FULL token total beside the bounded
    // highest-mass head as a map column (collect_list over ≤
    // maxModelTerms rows of a TakeOrdered — executor-side, bounded)
    val modelRow = histCtf
      .orderBy(col("ctf").desc, col("term"))
      .limit(maxModelTerms)
      .agg(map_from_entries(
        collect_list(struct(col("term"), col("ctf")))).as("_ctf"))
      .crossJoin(histCtf.agg(
        coalesce(sum(col("ctf")), lit(0L)).cast("double").as("_ctot")))
    val toks = Dedup.tokensCol(col("line"))
    val tot = size(toks).cast("long")
    def tfOf(t: Column): Column =
      size(filter(toks, x => x === t)).cast("long")
    def contrib(t: Column): Column = {
      val tf = tfOf(t)
      val p = tf.cast("double") / tot.cast("double")
      val q = element_at(col("_ctf"), t).cast("double") / col("_ctot")
      floor(p * log(p / q) * lit(1e6)).cast("long")
    }
    val folded = aggregate(
      array_distinct(toks),
      struct(lit(0L).as("kl"), lit(0L).as("unseen")),
      (acc, t) => struct(
        (acc("kl") + when(element_at(col("_ctf"), t).isNotNull, contrib(t))
          .otherwise(lit(0L))).as("kl"),
        (acc("unseen") + when(element_at(col("_ctf"), t).isNull, tfOf(t))
          .otherwise(lit(0L))).as("unseen")))
    docs
      .crossJoin(broadcast(modelRow))
      .withColumn("_f", folded)
      .withColumn("n_tokens", tot)
      .withColumn("n_unseen", col("_f.unseen"))
      .withColumn("kl_unats", col("_f.kl"))
      .drop("_f", "_ctf", "_ctot")
  }

  /**
   * Stateless streaming NOVELTY screen —
   * [[graft.operators.Pipeline.noveltyScore]] at ingest time: the
   * history's distinct shingle set collapses to a BLOOM sketch resolved
   * once at plan time (the nearDupScreen static-history recipe), and
   * each arriving doc scores ROW-LOCALLY — its distinct n-grams probe
   * the sketch inside one codegen'd array filter. No state store, no
   * watermark, no shuffle; any output mode works.
   *
   * Estimate semantics: Bloom false positives make a novel shingle
   * look seen, so `novelty_est` ≤ the batch tier's exact novelty,
   * short by at most ~fpp of the novel shingles; there are NO false
   * negatives, so seen content can never inflate the score — the safe
   * direction for a keep-if-novel gate. fpp → 0 recovers the batch
   * score exactly (StreamingSpec asserts parity at fpp 1e-4).
   * Shingle-less docs emit a null novelty, as in the batch tier.
   *
   * @return input columns + n_shingles, n_novel_est, novelty_est
   */
  def noveltyScreen(
      docs: DataFrame,
      historyDocs: DataFrame,
      n: Int = 3,
      expectedShingles: Long = -1L,
      fpp: Double = 0.03): DataFrame = {
    import graft.operators.Dedup
    val bytes = Dedup.bloomBytesOf(
      Dedup.shingles(historyDocs, n)
        .select(xxhash64(col("shingle")).as("h")),
      expectedShingles, fpp)
    docs
      .withColumn("_sh", Dedup.shinglesCol(col("line"), n))
      .withColumn("n_shingles", size(col("_sh")).cast("long"))
      .withColumn("n_novel_est",
        size(filter(col("_sh"), s =>
          !org.apache.spark.sql.graft.BloomFunctions
            .mightContainLong(xxhash64(s), bytes))).cast("long"))
      .withColumn("novelty_est",
        when(col("n_shingles") > 0,
          round(col("n_novel_est").cast("double") / col("n_shingles"), 6)))
      .drop("_sh")
  }

  /**
   * Stream-static BOW dedup screen — [[graft.operators.Dedup
   * .bowDedupAgainst]]'s streaming twin: drop arriving docs whose
   * SORTED-token-multiset fingerprint already exists in the static
   * history (shuffled copies of history docs, which the md5(line)
   * screen passes). STATELESS: the fingerprint is one row-local
   * sort+hash and the anti-join is stream-static — no watermark, no
   * state store; the history fingerprint set is planned once and
   * reused every micro-batch (broadcast it upstream when it fits).
   */
  def bowScreen(docs: DataFrame, historyDocs: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val seen = Dedup.bowFingerprints(historyDocs).select(col("bow_fp"))
    docs.join(seen,
      md5(array_join(array_sort(Dedup.tokensCol(col("line"))), " ")) ===
        col("bow_fp"),
      "left_anti")
  }

  /**
   * Streaming twin of [[graft.operators.Dedup.hashedCosineAgainst]] —
   * the sparse-cosine near-dup screen for arriving docs against a
   * static history. STATELESS append mode: a streaming doc is one row,
   * so its hashed feature vector (the q153 hashing trick) assembles
   * ROW-LOCALLY — one md5 per token, then a dims-long signed-count
   * fold — and candidates come from a stream-static equi-join of the
   * doc's non-zero buckets against the history's inverted index. The
   * per-pair multi-bucket dedup is the first-SHARED-COLD-bucket filter
   * evaluated row-locally over the two carried dense vectors (the
   * nearDupScreen first-matching-band recipe — no distinct, no state),
   * and the cosine is the full exact dot over ALL shared buckets
   * (zip_with over the carried vectors), so the hot-bucket guard
   * shapes candidate generation only — batch-twin parity by
   * construction, asserted in StreamingSpec.
   *
   * Static-side resolution (the nearDupScreen contract): history
   * vectors, norms, and the ≤dims-entry hot-bucket list are planned
   * once at operator construction (the hot list is a driver-side
   * aggregate of AT MOST `dims` rows) and reused every micro-batch.
   *
   * @return (doc, hist_doc, cos) with cos >= threshold
   */
  def hashedCosineScreen(
      docs: DataFrame,
      historyDocs: DataFrame,
      dims: Int = 64,
      threshold: Double = 0.9,
      maxBucketDocs: Long = 100000L): DataFrame = {
    import graft.operators.Dedup
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    require(maxBucketDocs >= 1, s"maxBucketDocs must be >= 1, got $maxBucketDocs")

    // ── static history: sparse features → dense vectors + norms ────────
    val fHist = Dedup.hashedFeatures(historyDocs, dims)
    val histVec = fHist
      .groupBy(col("doc"))
      .agg(map_from_entries(
        collect_list(struct(col("bucket"), col("weight")))).as("_hm"))
      .select(col("doc").as("hist_doc"),
        transform(sequence(lit(0L), lit((dims - 1).toLong)),
          b => coalesce(element_at(col("_hm"), b), lit(0L))).as("_hv"))
      .withColumn("_hn2",
        aggregate(col("_hv"), lit(0L), (acc, v) => acc + v * v))
    // hot buckets: ≤ dims rows, resolved once (a plan-sizing decision)
    val hot: Seq[Long] = fHist.groupBy(col("bucket"))
      .agg(count(lit(1)).as("_docs"))
      .where(col("_docs") > maxBucketDocs)
      .collect().map(_.getLong(0)).toSeq
    val histIdx = fHist
      .where(if (hot.isEmpty) lit(true) else !col("bucket").isin(hot: _*))
      .select(col("doc").as("hist_doc"), col("bucket"))
      .join(histVec, Seq("hist_doc"))

    // ── stream side: row-local hashed vector ───────────────────────────
    def h(t: Column): Column = md5(concat(lit("fh:"), t))
    val bs = transform(Dedup.tokensCol(col("line")), t =>
      struct(
        (org.apache.spark.sql.graft.VectorFunctions.hexLong(h(t), 1, 8) % dims).as("b"),
        (lit(1L) - lit(2L) *
          (org.apache.spark.sql.graft.VectorFunctions.hexLong(h(t), 9, 1) % 2L)).as("s")))
    val withVec = docs
      .withColumn("_bs", bs)
      .withColumn("_sv",
        transform(sequence(lit(0L), lit((dims - 1).toLong)),
          b => aggregate(col("_bs"), lit(0L),
            (acc, p) => acc +
              when(p.getField("b") === b, p.getField("s")).otherwise(lit(0L)))))
      .withColumn("_sn2",
        aggregate(col("_sv"), lit(0L), (acc, v) => acc + v * v))
      .withColumn("_cand",
        filter(
          transform(sequence(lit(0L), lit((dims - 1).toLong)),
            b => struct(b.as("bucket"),
              element_at(col("_sv"), (b + 1).cast("int")).as("w"))),
          p => p.getField("w") =!= 0L &&
            (if (hot.isEmpty) lit(true)
             else !p.getField("bucket").isin(hot: _*))))
      .select(col("doc"), col("_sv"), col("_sn2"),
        explode(col("_cand")).as("_e"))
      .withColumn("bucket", col("_e.bucket"))

    // first shared COLD bucket claims the pair — row-local, no distinct
    val firstShared = array_min(filter(
      sequence(lit(0L), lit((dims - 1).toLong)),
      b => element_at(col("_sv"), (b + 1).cast("int")) =!= 0L &&
        element_at(col("_hv"), (b + 1).cast("int")) =!= 0L &&
        (if (hot.isEmpty) lit(true) else !b.isin(hot: _*))))

    withVec.join(histIdx, Seq("bucket"))
      .where(col("bucket") === firstShared)
      .withColumn("_dot",
        aggregate(zip_with(col("_sv"), col("_hv"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v))
      .withColumn("cos", round(col("_dot").cast("double") /
        (sqrt(col("_sn2").cast("double")) * sqrt(col("_hn2").cast("double"))),
        6))
      .where(col("cos") >= threshold)
      .select(col("doc"), col("hist_doc"), col("cos"))
  }

  /**
   * STREAMING DAILY-INGEST DECISION LOG — the live twin of
   * [[graft.operators.Pipeline.dailyIngest]]: every arriving document
   * gets exactly one row of (doc, stage, anchor, split) with the batch
   * composition's semantics — `dropped_exact` (md5 text fingerprint
   * already in history), `dropped_near_dup` (exact Jaccard ≥ threshold
   * against a guard-surviving history band candidate; anchor = the
   * smallest match), or `kept` (anchor = the smallest bucket-sharing
   * history doc per [[graft.operators.Dedup.leakageSafeSplitAgainst]],
   * split inherited from its history split, or the `"split:"` permille
   * hash of the doc's own id when nothing matched / the anchor has no
   * recorded split).
   *
   * ENTIRELY STATELESS, one row per doc END TO END — no state store,
   * no watermark, no streaming aggregation. The trick that makes the
   * batch composition streamable: all three screens probe STATIC
   * history structures resolved at plan time —
   *  - the exact screen is a row-local Bloom probe (the
   *    [[contaminationScreen]] recipe; fingerprints only) + a 1:≤1
   *    stream-static left join on the distinct history fingerprints
   *    for the exact confirm (Bloom hits only can match — false
   *    positives cost nothing but the probe);
   *  - the near-dup and split screens share ONE static BUCKET INDEX:
   *    history LSH buckets pre-aggregated to
   *    (band, band_val) → array⟨(hist_doc, shingles, split)⟩, hot
   *    buckets (> maxBucketSize members) dropped WHOLE at index build
   *    (the batch guard's okBuckets semantics). The stream row
   *    computes its own signature row-locally (the [[nearDupScreen]]
   *    shape), then probes the index with nBands 1:≤1 left joins —
   *    never an explode, never a per-doc aggregation: the min-anchor
   *    and Jaccard verdicts reduce the carried candidate arrays with
   *    array expressions on the ONE row.
   *
   * Batch parity is pinned in StreamingSpec (same fixture through
   * `Pipeline.dailyIngest` and this screen, row-identical). At scale
   * the index is |history bands| rows whose bucket arrays are bounded
   * by `maxBucketSize` — size the bound to what a bucket row may
   * carry.
   *
   * THIS OVERLOAD DERIVES THE STATIC STATE FROM RAW HISTORY at every
   * stream start (the Bloom bytes + fp frame always; the bucket index
   * too unless `precomputedIndex` is passed) — at 100 TB history that
   * prep IS the cost (the 10× stress: 49.4 s history prep vs 5.7 s
   * per batch), so production callers build [[ingestState]] ONCE,
   * persist it, and start streams with [[ingestScreenFromState]].
   * Deriving here therefore requires the explicit
   * `allowDerivedState = true` opt-in (the `requireScope` philosophy:
   * a scale bug a caller will not notice locally fails loudly at
   * construction instead of being documented-and-hoped).
   *
   * @param docs streaming (doc, line)
   * @param historyDocs static (doc, line)
   * @param historySplits static (doc, split) — the persisted
   *        [[graft.operators.Dedup.leakageSafeSplit]] assignment
   * @param precomputedIndex a persisted [[ingestIndex]] built with the
   *        SAME (historyDocs, historySplits, n, numHashes, rowsPerBand,
   *        maxBucketSize) — the caller owns its lifecycle
   * @param allowDerivedState explicit opt-in to rebuilding the static
   *        screens from `historyDocs` (tests, ad-hoc runs)
   * @return streaming (doc, stage, anchor, split)
   */
  def ingestScreen(
      docs: DataFrame,
      historyDocs: DataFrame,
      historySplits: DataFrame,
      nearDupThreshold: Double = 0.5,
      valPerMille: Int = 100,
      n: Int = 3,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = graft.operators.Dedup.MaxPairBucket,
      fpp: Double = 1e-4,
      precomputedIndex: Option[DataFrame] = None,
      allowDerivedState: Boolean = false): DataFrame = {
    import graft.operators.Dedup
    require(allowDerivedState,
      "ingestScreen derives the exact-screen Bloom bytes + fp frame " +
        (if (precomputedIndex.isEmpty) "AND the bucket index " else "") +
        "from raw historyDocs at every stream start — wrong for " +
        "production (history prep dwarfs per-batch cost at scale). " +
        "Build ingestState(...) once, persist it, and start streams " +
        "with ingestScreenFromState; or pass allowDerivedState = true " +
        "to accept the rebuild (tests, ad-hoc runs)")
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")

    // ── static exact screen: Bloom bytes (plan-time) + distinct fps ────
    val bloomBytes = Dedup.bloomBytesOf(
      historyDocs.select(xxhash64(md5(col("line"))).as("h")).distinct(),
      -1L, fpp)
    val hfp = historyDocs.select(md5(col("line")).as("_hfp")).distinct()

    // ── static bucket index: (band, band_val) → candidate array ────────
    val index = precomputedIndex.getOrElse(ingestIndex(
      historyDocs, historySplits, n, numHashes, rowsPerBand, maxBucketSize))

    ingestScreenCore(docs, bloomBytes, hfp, index,
      nearDupThreshold, valPerMille, n, numHashes, rowsPerBand)
  }

  /**
   * The PRODUCTION stream start: every static structure the screen
   * probes — Bloom bytes, distinct-fp frame, bucket index — loads
   * from ONE persisted [[ingestState]] artifact, and so do the
   * DERIVATION PARAMETERS (n, numHashes, rowsPerBand): they are a
   * property of how the state was built, so the caller cannot
   * mis-repeat them — a mismatched shingle width or band count would
   * compute band keys that silently miss every history bucket, the
   * exact class of quiet wrongness the repo kills loudly. Only the
   * stream-side SEMANTIC knobs (threshold, split share) remain
   * arguments. `historyDocs` is never touched (not in the signature).
   * Driver-side actions: the 1-row Bloom read + the 1-row meta read
   * at plan construction — bounded by construction (the q100
   * frozen-state convention).
   *
   * @param docs streaming (doc, line)
   * @param state a (persisted or parquet-read) [[ingestState]]
   * @return streaming (doc, stage, anchor, split)
   */
  def ingestScreenFromState(
      docs: DataFrame,
      state: DataFrame,
      nearDupThreshold: Double = 0.5,
      valPerMille: Int = 100): DataFrame = {
    val params = artifactMeta(state, "ingestState",
      required = Seq("n", "numHashes", "rowsPerBand"), metaCol = "fp")
    val (n, numHashes, rowsPerBand) =
      (metaInt(params, "n", "ingestState"),
        metaInt(params, "numHashes", "ingestState"),
        metaInt(params, "rowsPerBand", "ingestState"))
    val bloomBytes = state.where(col("section") === "bloom")
      .select(col("bloom")).head().getAs[Array[Byte]](0)
    val hfp = state.where(col("section") === "fp")
      .select(col("fp").as("_hfp"))
    val index = state.where(col("section") === "index")
      .select(col("band"), col("band_val"), col("cands"))
    ingestScreenCore(docs, bloomBytes, hfp, index,
      nearDupThreshold, valPerMille, n, numHashes, rowsPerBand)
  }

  /**
   * The full static state behind [[ingestScreenFromState]], packaged
   * as ONE writable frame (section-tagged union — one parquet
   * directory is the whole artifact):
   *  - `section = "index"`: the [[ingestIndex]] rows
   *    (band, band_val, cands);
   *  - `section = "fp"`: the distinct history text fingerprints
   *    (md5), the exact-confirm side of the Bloom probe;
   *  - `section = "bloom"`: ONE row carrying the serialized Bloom
   *    filter bytes over xxhash64(fp);
   *  - `section = "dropped"`: the (band, band_val) KEYS of buckets the
   *    hot-bucket guard excluded WHOLE — bounded (≤ band rows /
   *    maxBucketSize keys) and invisible to the screen, but load-
   *    bearing for [[extendIngestState]]: without them an extension
   *    could not tell "no history members" from "hot mass dropped at
   *    build" and would resurrect a guarded bucket from its delta
   *    members alone;
   *  - `section = "meta"`: ONE row carrying the derivation parameters
   *    (n;numHashes;rowsPerBand;maxBucketSize;fpp in the fp column) so
   *    [[ingestScreenFromState]] and [[extendIngestState]] read them
   *    FROM the artifact instead of trusting the caller to repeat
   *    them, plus the history snapshot's content checksum
   *    ([[requireScreenStateHistoryCurrent]]).
   * Build once per history snapshot, write/persist, and start any
   * number of streams from it — raw history is scanned at BUILD time
   * only (the 10× stress records build-once vs load-and-serve); when
   * the history GROWS, [[extendIngestState]] folds the delta in at
   * O(delta shingling + fp set) instead of a full rebuild.
   */
  def ingestState(
      historyDocs: DataFrame,
      historySplits: DataFrame,
      n: Int = 3,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = graft.operators.Dedup.MaxPairBucket,
      fpp: Double = 1e-4,
      allowSaturated: Boolean = false): DataFrame = {
    import graft.operators.Dedup
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")
    val spark = historyDocs.sparkSession
    // ONE persisted bucket aggregation feeds the saturation radar and
    // the (lazy) kept/dropped split — the shingle+minhash+band pass
    // over history runs once per build (the media-tier single-persist
    // convention; under Caching.scoped it releases with the action)
    val buckets = graft.Caching.persist(ingestBuckets(
      historyDocs, historySplits, n, numHashes, rowsPerBand))
    requireUnsaturatedScreenBuckets(buckets, maxBucketSize, allowSaturated,
      "ingestState",
      "scale the bound to the corpus's duplication " +
        "(Multimodal.scaledGuardBound) or exact-dedup history first")
    val idx = buckets.where(size(col("cands")) <= maxBucketSize)
    val dropped = buckets.where(size(col("cands")) > maxBucketSize)
      .select(col("band"), col("band_val"))
    val hfp = historyDocs.select(md5(col("line")).as("fp")).distinct()
    val bloomBytes = Dedup.bloomBytesOf(
      hfp.select(xxhash64(col("fp")).as("h")), -1L, fpp)
    // meta also records the history snapshot's content identity
    // (requireScreenStateHistoryCurrent) — a lazy aggregate over
    // history, paid at the artifact's one materialization
    val metaRow = historyMetaTailRow(historyDocs, Seq("doc"), "line")
      .select(concat(
        lit(s"n=$n;numHashes=$numHashes;rowsPerBand=$rowsPerBand;" +
          s"maxBucketSize=$maxBucketSize;fpp=$fpp;"),
        col("_tail")).as("_meta"))
    ingestStateAssembly(spark, idx, dropped, hfp, bloomBytes, metaRow)
  }

  /** SATURATION guard at the text/embedding state-build boundary —
    * [[mediaScreenState]]'s `requireUnsaturatedState` generalized to
    * any unguarded bucket aggregation: when the hot-bucket guard would
    * drop more than [[graft.multimodal.Multimodal.SaturationFrac]] of
    * the corpus's bucket-member rows, the packaged index is mostly
    * blind and every stream serving from it silently misses most
    * near-dup reuse — fail loudly at the moment the artifact is
    * created, naming the measured mass and the fix. On extensions the
    * radar reads VISIBLE mass only (buckets dropped at an earlier
    * build hide their true size — an UNDER-estimate, so a trip here is
    * definitive saturation; the build-time radar is authoritative). */
  private def requireUnsaturatedScreenBuckets(
      buckets: DataFrame,
      maxBucketSize: Int,
      allowSaturated: Boolean,
      builder: String,
      fix: String): Unit = {
    if (allowSaturated) return
    val r = buckets.agg(
      coalesce(sum(size(col("cands"))), lit(0L)).as("t"),
      coalesce(sum(when(size(col("cands")) > maxBucketSize,
        size(col("cands"))).otherwise(lit(0L))), lit(0L)).as("s")).head()
    val (total, skipped) = (r.getLong(0), r.getLong(1))
    val frac = if (total == 0L) 0.0 else skipped.toDouble / total
    require(frac <= graft.multimodal.Multimodal.SaturationFrac,
      f"$builder is SATURATED (the hot-bucket guard would drop " +
        f"$frac%.2f of bucket-member rows > " +
        f"${graft.multimodal.Multimodal.SaturationFrac}, bound " +
        s"$maxBucketSize): the packaged index would exclude most buckets " +
        "whole and streams serving from it would silently miss most " +
        s"near-dup reuse — $fix, or pass allowSaturated = true for a " +
        "deliberately degraded build")
  }

  /** Assemble the ingest-screen artifact from its parts — shared by
    * [[ingestState]] (full build) and [[extendIngestState]] (delta
    * fold), so the two paths cannot drift in shape. `metaRow` is a
    * 1-row frame with the full meta string in `_meta`. */
  private def ingestStateAssembly(
      spark: org.apache.spark.sql.SparkSession,
      idx: DataFrame,
      dropped: DataFrame,
      hfp: DataFrame,
      bloomBytes: Array[Byte],
      metaRow: DataFrame): DataFrame = {
    def nulls(cols: String*): Seq[Column] =
      cols.map(c => lit(null).cast(idx.schema(c).dataType).as(c))
    val indexRows = idx.select(
      Seq(lit("index").as("section"), col("band"), col("band_val"),
        col("cands"), lit(null).cast("string").as("fp"),
        lit(null).cast("binary").as("bloom")): _*)
    val droppedRows = dropped.select(
      Seq(lit("dropped").as("section"), col("band"), col("band_val"),
        lit(null).cast(idx.schema("cands").dataType).as("cands"),
        lit(null).cast("string").as("fp"),
        lit(null).cast("binary").as("bloom")): _*)
    val fpRows = hfp.select(
      Seq(lit("fp").as("section")) ++ nulls("band", "band_val", "cands")
        ++ Seq(col("fp"), lit(null).cast("binary").as("bloom")): _*)
    val bloomRow = spark.range(1).select(
      Seq(lit("bloom").as("section")) ++ nulls("band", "band_val", "cands")
        ++ Seq(lit(null).cast("string").as("fp"), lit(bloomBytes).as("bloom")): _*)
    val meta = metaRow.select(
      Seq(lit("meta").as("section")) ++ nulls("band", "band_val", "cands")
        ++ Seq(col("_meta").as("fp"), lit(null).cast("binary").as("bloom")): _*)
    indexRows.unionByName(droppedRows).unionByName(fpRows)
      .unionByName(bloomRow).unionByName(meta)
  }

  /**
   * O(delta) EXTENSION of an [[ingestState]] artifact — the productive
   * response to the freshness guard: when the history corpus GROWS,
   * [[requireScreenStateHistoryCurrent]] (correctly) rejects the old
   * artifact, and until now the only fix was a full rebuild — paying
   * the shingling + minhash + banding of ALL history again for a
   * delta-sized change. This folds the delta in instead, EXACTLY
   * EQUIVALENT BY CONSTRUCTION to `ingestState(history ∪ delta)`
   * (StreamingSpec pins artifact content and screen-output identity):
   *
   *  - bucket index: the delta's UNGUARDED buckets concat onto the
   *    artifact's arrays via a broadcast full-outer join on
   *    (band, band_val) — untouched buckets stream through unshuffled
   *    (the [[refreshAnnServeState]] shape) — and the hot-bucket guard
   *    re-applies on MERGED sizes: a kept bucket pushed past the bound
   *    drops whole, and a bucket in the artifact's `dropped` section
   *    STAYS dropped whatever the delta adds (sizes only grow; without
   *    the recorded keys the hidden hot mass would resurrect);
   *  - fp set: union-distinct of the artifact's fps and the delta's —
   *    a single-column shuffle, no history text re-hash;
   *  - Bloom bytes: re-derived from the merged fp set (same fpp from
   *    the meta row) — bits depend only on the inserted SET, so this
   *    equals the fresh build's filter byte-for-byte;
   *  - history checksum: the fold is COMMUTATIVE, so the new identity
   *    is literally old + delta (row counts and hash sums add) — no
   *    history scan at all.
   *
   * CONTRACT: `deltaDocs` must be strictly NEW rows (disjoint from the
   * rows the artifact was built over). A re-sent row double-counts in
   * the checksum, so the extended artifact's identity diverges from
   * the true union and [[requireScreenStateHistoryCurrent]] fails
   * against the real corpus — the guard catching the misuse is the
   * designed behavior. Only rows the guard pins are scanned: cost is
   * O(delta shingling + merged fp set), never O(history re-shingle).
   *
   * SMALL-DELTA ASSUMPTION: the delta's buckets are BROADCAST into the
   * fold (that is what lets untouched artifact rows pass unshuffled),
   * so a delta must fit the broadcast/driver-memory budget — a
   * backfill-sized delta belongs in a full rebuild, whose shuffle plan
   * is built for corpus-scale input. Shared by every `extend*`
   * operator in this file.
   */
  def extendIngestState(
      state: DataFrame,
      deltaDocs: DataFrame,
      deltaSplits: DataFrame,
      allowSaturated: Boolean = false): DataFrame = {
    import graft.operators.Dedup
    val spark = state.sparkSession
    val params = artifactMeta(state, "ingestState",
      required = Seq("n", "numHashes", "rowsPerBand", "maxBucketSize",
        "fpp", "historyKey", "historyPayload", "historyChecksum"),
      metaCol = "fp")
    val n = metaInt(params, "n", "ingestState")
    val numHashes = metaInt(params, "numHashes", "ingestState")
    val rowsPerBand = metaInt(params, "rowsPerBand", "ingestState")
    val maxBucketSize = metaInt(params, "maxBucketSize", "ingestState")
    val fpp = metaDouble(params, "fpp", "ingestState")
    // the delta's buckets, UNGUARDED — hot is a property of the MERGED
    // history, decided below on merged sizes
    val deltaBuckets = ingestBuckets(
      deltaDocs, deltaSplits, n, numHashes, rowsPerBand)
    val oldIdx = state.where(col("section") === "index")
      .select(col("band"), col("band_val"), col("cands"))
    val oldDropped = state.where(col("section") === "dropped")
      .select(col("band"), col("band_val"))
    val merged = broadcastFullOuterMerge(oldIdx,
        deltaBuckets.withColumnRenamed("cands", "_dc"),
        Seq("band", "band_val"), "cands", "_dc", concat(_, _))
      .join(broadcast(oldDropped.withColumn("_wasDropped", lit(true))),
        Seq("band", "band_val"), "left_outer")
      .select(col("band"), col("band_val"), col("cands"),
        coalesce(col("_wasDropped"), lit(false)).as("_wasDropped"))
    val mergedP = graft.Caching.persist(merged)
    requireUnsaturatedScreenBuckets(
      mergedP.where(!col("_wasDropped")), maxBucketSize, allowSaturated,
      "extendIngestState",
      "scale the bound to the corpus's duplication " +
        "(Multimodal.scaledGuardBound) or exact-dedup the delta first")
    val kept = mergedP
      .where(!col("_wasDropped") && size(col("cands")) <= maxBucketSize)
      .select(col("band"), col("band_val"), col("cands"))
    // the new dropped set is (visible buckets over the bound) ∪ (every
    // key the artifact already dropped) — the union, NOT the merged
    // frame's _wasDropped rows alone: an old-dropped bucket with no
    // delta members has no merged row at all, and losing its key would
    // let a LATER extension resurrect its hidden hot mass
    val droppedNow = mergedP
      .where(size(col("cands")) > maxBucketSize)
      .select(col("band"), col("band_val"))
      .unionByName(oldDropped).distinct()
    val fps = state.where(col("section") === "fp").select(col("fp"))
      .unionByName(deltaDocs.select(md5(col("line")).as("fp")))
      .distinct()
    val bloomBytes = Dedup.bloomBytesOf(
      fps.select(xxhash64(col("fp")).as("h")), -1L, fpp)
    // commutative checksum composition: identity(h ∪ d) = identity(h)
    // + identity(d) — two bounded numbers, no history scan
    val Array(nOld, sOld) = params("historyChecksum").split(':')
    val Array(nDelta, sDelta) = historyChecksumRow(deltaDocs, Seq("doc"), "line")
      .head().getString(0).split(':')
    val newCk = s"${nOld.toLong + nDelta.toLong}:" +
      s"${(BigInt(sOld) + BigInt(sDelta)).toString}"
    val metaRow = spark.range(1).select(
      lit(s"n=$n;numHashes=$numHashes;rowsPerBand=$rowsPerBand;" +
        s"maxBucketSize=$maxBucketSize;fpp=${params("fpp")};" +
        s"historyKey=${params("historyKey")};" +
        s"historyPayload=${params("historyPayload")};" +
        s"historyChecksum=$newCk").as("_meta"))
    ingestStateAssembly(spark, kept, droppedNow, fps, bloomBytes, metaRow)
  }

  /** The screen body shared by [[ingestScreen]] (derived state) and
    * [[ingestScreenFromState]] (persisted state): row-local
    * fingerprint + signature, the Bloom-guarded exact confirm, nBands
    * 1:≤1 index probes, and the array-expression verdict reduction —
    * one row per doc end to end, no state store. */
  private def ingestScreenCore(
      docs: DataFrame,
      bloomBytes: Array[Byte],
      hfp: DataFrame,
      index: DataFrame,
      nearDupThreshold: Double,
      valPerMille: Int,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    import graft.operators.Dedup
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    require(nearDupThreshold > 0 && nearDupThreshold < 1,
      s"nearDupThreshold must be in (0,1), got $nearDupThreshold")
    require(valPerMille >= 0 && valPerMille <= 1000,
      s"valPerMille must be in [0, 1000], got $valPerMille")
    val nBands = numHashes / rowsPerBand

    // ── stream side: row-local fingerprint + signature + band keys ─────
    def bandVal(b: Int): Column =
      concat_ws(",",
        (0 until rowsPerBand).map(i => col(s"m${b * rowsPerBand + i}")): _*)
    val minCols = (0 until numHashes).map { k =>
      array_min(transform(col("_bb"), p =>
        (p.getField("b1") + lit((k + 1).toLong) * p.getField("b2"))
          % Dedup.MinhashPrime)).as(s"m$k")
    }
    val sig = docs
      .withColumn("_fp", md5(col("line")))
      .withColumn("_sh", Dedup.shinglesCol(col("line"), n))
      .withColumn("_bb", transform(col("_sh"), s => {
        val h = md5(s)
        struct(
          org.apache.spark.sql.graft.VectorFunctions.hexLong(h, 1, 8).as("b1"),
          org.apache.spark.sql.graft.VectorFunctions.hexLong(h, 9, 8).as("b2"))
      }))
      .select(Seq(col("doc"), col("_fp"), col("_sh")) ++ minCols: _*)
    val withBands = sig.select(
      Seq(col("doc"), col("_fp"), col("_sh")) ++
        // shingle-less docs get NULL band keys (they join nothing —
        // the batch twin's absent-from-bands semantics)
        (0 until nBands).map(b =>
          when(size(col("_sh")) > 0, bandVal(b)).as(s"_bv$b")): _*)

    // ── probes: exact confirm (1:≤1) + nBands bucket lookups (1:≤1) ───
    val exactProbed = withBands.join(hfp,
      org.apache.spark.sql.graft.BloomFunctions
        .mightContainLong(xxhash64(col("_fp")), bloomBytes) &&
        col("_fp") === col("_hfp"),
      "left")
    val probed = (0 until nBands).foldLeft(exactProbed) { (cur, b) =>
      cur.join(
        index.where(col("band") === b.toLong)
          .select(col("band_val").as(s"_ibv$b"), col("cands").as(s"_c$b")),
        col(s"_bv$b") === col(s"_ibv$b"), "left")
        .drop(s"_ibv$b")
    }

    // ── row-local verdicts over the carried candidate arrays ──────────
    val cands = flatten(array_compact(
      array((0 until nBands).map(b => col(s"_c$b")): _*)))
    val jacOk = (c: Column) => {
      val inter = size(array_intersect(col("_sh"), c.getField("hsh")))
        .cast("double")
      inter / (size(col("_sh")) + size(c.getField("hsh")) -
        size(array_intersect(col("_sh"), c.getField("hsh")))).cast("double") >=
        nearDupThreshold
    }
    val hit = col("_hfp").isNotNull
    val ndAnchor = array_min(transform(
      filter(cands, c => jacOk(c)), c => c.getField("hd")))
    val minCand = element_at(array_sort(transform(cands,
      c => struct(c.getField("hd").as("hd"), c.getField("hsp").as("hsp")))), 1)
    val ownBucket = org.apache.spark.sql.graft.VectorFunctions.hexLong(
      md5(concat(lit("split:"), col("doc").cast("string"))), 1, 8) % 1000000L
    val hashSplit =
      when(ownBucket < valPerMille * 1000L, lit("val")).otherwise(lit("train"))
    probed
      .withColumn("_cands", cands)
      .select(col("doc"),
        when(hit, lit("dropped_exact"))
          .when(ndAnchor.isNotNull, lit("dropped_near_dup"))
          .otherwise(lit("kept")).as("stage"),
        when(!hit && ndAnchor.isNotNull, ndAnchor)
          .when(!hit && ndAnchor.isNull && size(col("_cands")) > 0,
            minCand.getField("hd")).as("anchor"),
        when(!hit && ndAnchor.isNull,
          coalesce(
            when(size(col("_cands")) > 0, minCand.getField("hsp")),
            hashSplit)).as("split"))
  }

  /**
   * The static BUCKET INDEX behind [[ingestScreen]], exposed so
   * production callers build it ONCE, persist (or write) it, and pass
   * it back via `precomputedIndex` — the daily-pipeline state shape
   * (the q100 frozen-ANN-index convention): history LSH buckets
   * pre-aggregated to (band, band_val) → array⟨(hd, hsh, hsp)⟩
   * candidate structs, hot buckets (> maxBucketSize members) dropped
   * WHOLE at build (the batch okBuckets guard — candidates from them
   * never form on either engine). Index size is |history bands| rows;
   * each row carries at most `maxBucketSize` candidate structs.
   */
  def ingestIndex(
      historyDocs: DataFrame,
      historySplits: DataFrame,
      n: Int = 3,
      numHashes: Int = 16,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = graft.operators.Dedup.MaxPairBucket): DataFrame = {
    require(maxBucketSize > 0,
      s"maxBucketSize must be positive, got $maxBucketSize")
    // hot-bucket guard: the batch okBuckets contract — oversized
    // buckets are excluded WHOLE, candidates from them never form
    ingestBuckets(historyDocs, historySplits, n, numHashes, rowsPerBand)
      .where(size(col("cands")) <= maxBucketSize)
  }

  /** [[ingestIndex]] WITHOUT the hot-bucket guard — the raw
    * (band, band_val) → candidate-array aggregation. [[ingestState]]
    * splits it into kept + dropped (the keys [[extendIngestState]]
    * needs), and the extension builds its DELTA buckets through it
    * (hot is a property of the MERGED history, decided on merged
    * sizes, never on delta sizes). */
  private def ingestBuckets(
      historyDocs: DataFrame,
      historySplits: DataFrame,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    import graft.operators.Dedup
    val histBands = Dedup.lshBands(
      Dedup.minhashSignatures(Dedup.shingles(historyDocs, n), numHashes),
      numHashes, rowsPerBand)
    val histInfo = historyDocs
      .select(col("doc"), Dedup.shinglesCol(col("line"), n).as("_hsh"))
      .join(historySplits.select(col("doc"), col("split").as("_hsp")),
        Seq("doc"), "left")
    histBands.join(histInfo, Seq("doc"))
      .groupBy(col("band"), col("band_val"))
      .agg(collect_list(struct(col("doc").as("hd"), col("_hsh").as("hsh"),
        col("_hsp").as("hsp"))).as("cands"))
  }

  /**
   * Streaming MEDIA near-dup screen — the live twin of
   * [[graft.multimodal.Multimodal.imageNearDupAgainst]] for any aHash
   * modality: each arriving (asset_id, ahash) row (from the image /
   * audio / video hashers, which are stateless typed maps and run on
   * streams as-is) probes a STATIC history hash set through the same
   * parameterized banding as the batch tier (default 7×8-bit; wide
   * layouts like 4×14 for hot-everywhere corpora — the
   * `requireBandLayout` contract) and reports its closest history
   * match (hamming ≤ maxDist, min (hamming, id)).
   *
   * Entirely STATELESS append mode: the stream row computes its nBands
   * band keys map-side, the stream-static band join meets history on
   * (band, band_bits), the first-MATCHING-band filter (decidable per
   * row from h1^h2 — the simhashPairs idiom) drops multi-band
   * duplicates without a distinct, and the closest-match pick is the
   * one candidate reduction the batch twin also pays… except a
   * streaming groupBy would need update mode, so the pick here is
   * row-local: the history side is pre-aggregated PER BUCKET into a
   * candidate hash array (the [[ingestIndex]] recipe — bounded by
   * `maxBucketDocs`), and the min-(hamming, id) reduction runs over
   * the ≤ 7 carried arrays on the ONE stream row. Delta assets never
   * meet each other (history-only probes — the batch contract).
   *
   * @param hashes streaming (asset_id, ahash) — compose with
   *        `Multimodal.imageAHash`/`audioAHash`/`videoAHash`
   * @param historyHashes static (asset_id, ahash)
   * @param precomputedIndex a persisted [[mediaNearDupIndex]] built
   *        from the SAME (historyHashes, maxBucketDocs) — without it
   *        the per-bucket index re-derives (explode + groupBy over
   *        history) inside each of the 7 stream-static joins on every
   *        micro-batch; fine for tests, wrong for production (the
   *        ingestScreen precomputedIndex convention)
   * @return streaming (asset_id, match_id, hamming) — one row per
   *         MATCHED arrival
   */
  def mediaNearDupScreen(
      hashes: DataFrame,
      historyHashes: DataFrame,
      maxDist: Int = 6,
      maxBucketDocs: Int = graft.operators.Dedup.MaxPairBucket,
      precomputedIndex: Option[DataFrame] = None,
      nBands: Int = 7,
      bandBits: Int = 8): DataFrame = {
    graft.multimodal.Multimodal.requireBandLayout(nBands, bandBits, maxDist)
    require(maxBucketDocs > 0,
      s"maxBucketDocs must be positive, got $maxBucketDocs")
    // static per-bucket candidate arrays (hot buckets dropped whole)
    val idx = precomputedIndex.getOrElse(
      mediaNearDupIndex(historyHashes, maxBucketDocs, nBands, bandBits))
    mediaScreenCore(hashes, idx, maxDist, nBands, bandBits)
  }

  /** The probe body shared by [[mediaNearDupScreen]] (derived or
    * passed index) and [[mediaNearDupScreenFromState]] (persisted
    * artifact): ≤ nBands stream-static 1:≤1 left joins carry the
    * candidate arrays onto the one stream row, then a row-local
    * min-(hamming, id) reduction — no state store, no watermark. */
  private def mediaScreenCore(
      hashes: DataFrame,
      idx: DataFrame,
      maxDist: Int,
      nBands: Int,
      bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    def bandVal(h: Column, b: Int): Column =
      shiftright(h, bandBits * b).bitwiseAND(lit(mask))
    // ≤ nBands stream-static 1:≤1 left joins — one probe per band key
    val probed = (0 until nBands).foldLeft(
      hashes.select(col("asset_id"), col("ahash"))) { (cur, b) =>
      cur.join(
        idx.where(col("band") === b.toLong)
          .select(col("band_bits").as(s"_ibb$b"), col("cands").as(s"_c$b")),
        bandVal(col("ahash"), b) === col(s"_ibb$b"), "left")
        .drop(s"_ibb$b")
    }
    // row-local closest match over the carried candidate arrays; a
    // candidate sharing several bands appears in several arrays — the
    // min reduction is idempotent, no first-matching-band filter needed
    val cands = flatten(array_compact(
      array((0 until nBands).map(b => col(s"_c$b")): _*)))
    val best = array_min(transform(
      filter(cands, c =>
        bit_count(col("ahash").bitwiseXOR(c.getField("hh"))) <= maxDist),
      c => struct(
        bit_count(col("ahash").bitwiseXOR(c.getField("hh"))).cast("long")
          .as("hamming"),
        c.getField("hid").as("match_id"))))
    probed
      .withColumn("_best", best)
      .where(col("_best").isNotNull)
      .select(col("asset_id"), col("_best.match_id").as("match_id"),
        col("_best.hamming").as("hamming"))
  }

  /** The static per-bucket candidate index behind
    * [[mediaNearDupScreen]], exposed so production callers build it
    * ONCE per history snapshot, persist (or write) it, and pass it
    * back via `precomputedIndex` — (band, band_bits) →
    * array⟨(hid, hh)⟩ with hot buckets (> maxBucketDocs members)
    * dropped WHOLE at build (the [[ingestIndex]] recipe in hash
    * space). */
  def mediaNearDupIndex(
      historyHashes: DataFrame,
      maxBucketDocs: Int = graft.operators.Dedup.MaxPairBucket,
      nBands: Int = 7,
      bandBits: Int = 8): DataFrame = {
    require(maxBucketDocs > 0,
      s"maxBucketDocs must be positive, got $maxBucketDocs")
    mediaBuckets(historyHashes, nBands, bandBits)
      .where(size(col("cands")) <= maxBucketDocs)
  }

  /**
   * Streaming WINDOW-level media near-dup screen — the live twin of
   * [[graft.multimodal.Multimodal.ahashWindowNearDupAgainst]], closing
   * the long-media gap the whole-asset [[mediaNearDupScreen]] leaves
   * open (an arriving hour-long clip that reuses thirty seconds of
   * history footage never matches on its whole-stream hash): each
   * arriving WINDOW row (from `audioAHashWindows` /
   * `videoAHashSegments`, stateless typed maps that run on streams
   * as-is; rename `segment_id` → `window_id` for the video tier)
   * probes a static per-bucket index of the HISTORY's window hashes
   * and emits ONE ROW PER QUALIFYING (arriving window × history
   * window) PAIR — the complete match evidence, computed row-locally.
   *
   * Append-mode STATELESS by the same construction as
   * [[mediaNearDupScreen]]: ≤ nBands stream-static 1:≤1 joins carry
   * the candidate arrays onto the window row, the hamming filter and
   * the multi-band dedup (`array_distinct` — a candidate sharing
   * several bands appears in several carried arrays) are array
   * expressions on that one row, and the explode emits matched pairs
   * only. The ASSET-level verdict (q220c's (asset_id, match_id,
   * min_hamming, n_window_hits) shape) is a plain batch rollup over
   * the emitted pairs — a streaming groupBy across an asset's windows
   * would drag in update-mode state for a reduction the sink query
   * does for free; StreamingSpec pins that composition row-identical
   * to the batch operator. Hot buckets are a HISTORY property, dropped
   * WHOLE at index build (the batch guard); delta windows never meet
   * each other (history-only probes — the batch contract).
   *
   * @param windows streaming (asset_id, window_id, ahash) window rows
   * @param historyWindows static window rows of the same shape
   * @param precomputedIndex a persisted [[mediaWindowNearDupIndex]]
   *        built from the SAME (historyWindows, maxBucketDocs,
   *        nBands, bandBits) — without it the index re-derives inside
   *        each of the nBands stream-static joins on every
   *        micro-batch; fine for tests, wrong for production
   * @return streaming (asset_id, window_id, match_id,
   *         match_window_id, hamming) — one row per qualifying pair
   */
  def mediaWindowNearDupScreen(
      windows: DataFrame,
      historyWindows: DataFrame,
      maxDist: Int = 6,
      maxBucketDocs: Int = graft.operators.Dedup.MaxPairBucket,
      precomputedIndex: Option[DataFrame] = None,
      nBands: Int = 7,
      bandBits: Int = 8): DataFrame = {
    graft.multimodal.Multimodal.requireBandLayout(nBands, bandBits, maxDist)
    require(maxBucketDocs > 0,
      s"maxBucketDocs must be positive, got $maxBucketDocs")
    val idx = precomputedIndex.getOrElse(mediaWindowNearDupIndex(
      historyWindows, maxBucketDocs, nBands, bandBits))
    mediaWindowScreenCore(windows, idx, maxDist, nBands, bandBits)
  }

  /** The probe body shared by [[mediaWindowNearDupScreen]] and
    * [[mediaWindowNearDupScreenFromState]]: per arriving window row,
    * ≤ nBands 1:≤1 joins + row-local filter/dedup/explode of the
    * qualifying history-window pairs. */
  private def mediaWindowScreenCore(
      windows: DataFrame,
      idx: DataFrame,
      maxDist: Int,
      nBands: Int,
      bandBits: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    def bandVal(h: Column, b: Int): Column =
      shiftright(h, bandBits * b).bitwiseAND(lit(mask))
    val probed = (0 until nBands).foldLeft(
      windows.select(col("asset_id"), col("window_id"), col("ahash"))) {
      (cur, b) =>
        cur.join(
          idx.where(col("band") === b.toLong)
            .select(col("band_bits").as(s"_ibb$b"), col("cands").as(s"_c$b")),
          bandVal(col("ahash"), b) === col(s"_ibb$b"), "left")
          .drop(s"_ibb$b")
    }
    val cands = flatten(array_compact(
      array((0 until nBands).map(b => col(s"_c$b")): _*)))
    val hits = array_distinct(transform(
      filter(cands, c =>
        bit_count(col("ahash").bitwiseXOR(c.getField("hh"))) <= maxDist),
      c => struct(
        c.getField("mid").as("match_id"),
        c.getField("mwid").as("match_window_id"),
        bit_count(col("ahash").bitwiseXOR(c.getField("hh"))).cast("long")
          .as("hamming"))))
    probed
      .select(col("asset_id"), col("window_id"), explode(hits).as("_h"))
      .select(col("asset_id"), col("window_id"),
        col("_h.match_id").as("match_id"),
        col("_h.match_window_id").as("match_window_id"),
        col("_h.hamming").as("hamming"))
  }

  /** The static per-bucket candidate index behind
    * [[mediaWindowNearDupScreen]] — [[mediaNearDupIndex]] with window
    * identity carried: (band, band_bits) → array⟨(mid, mwid, hh)⟩,
    * hot buckets (> maxBucketDocs WINDOW rows — the batch tier counts
    * window rows too) dropped whole at build. Build once per history
    * snapshot, persist (or write), pass back via `precomputedIndex`. */
  def mediaWindowNearDupIndex(
      historyWindows: DataFrame,
      maxBucketDocs: Int = graft.operators.Dedup.MaxPairBucket,
      nBands: Int = 7,
      bandBits: Int = 8): DataFrame = {
    require(maxBucketDocs > 0,
      s"maxBucketDocs must be positive, got $maxBucketDocs")
    mediaWindowBuckets(historyWindows, nBands, bandBits)
      .where(size(col("cands")) <= maxBucketDocs)
  }

  /**
   * The persisted stream-start STATE for the whole-asset media screen —
   * the [[ingestState]] convention in hash space: ONE parquet-writable
   * frame carrying the [[mediaNearDupIndex]] rows (`section = "index"`)
   * plus ONE meta row (`section = "meta"`) with the BAND-LAYOUT
   * PARAMETERS (nBands;bandBits) the index was built with. Band keys
   * are a property of how the state was built, so
   * [[mediaNearDupScreenFromState]] reads them FROM the artifact
   * instead of trusting the caller to repeat them — a mismatched
   * layout would compute probe keys that silently miss every bucket,
   * the exact class of quiet wrongness the repo kills loudly. Build
   * once per history snapshot, write/persist, start any number of
   * streams from it; raw history is scanned at build time only.
   */
  /** @param nBands pass [[graft.multimodal.Multimodal.BandAuto]] to
    *        let the saturation radar pick the layout AT STATE BUILD
    *        (the batch tier's ladder walk, promoted to this boundary):
    *        the chosen (nBands, bandBits) persists in the meta row the
    *        FromState start already reads, so streams inherit it
    *        without the caller repeating anything. Under auto the
    *        ladder is bounded by `maxDist` (pigeonhole admissibility)
    *        and `allowSaturated` is moot — the radar fails loudly when
    *        every admissible rung saturates.
    * @param maxDist under [[graft.multimodal.Multimodal.BandAuto]]
    *        only: the largest hamming threshold streams will ask of
    *        this state (the FromState start re-validates its own
    *        maxDist against the persisted layout either way). */
  def mediaScreenState(
      historyHashes: DataFrame,
      maxBucketDocs: Int = graft.operators.Dedup.MaxPairBucket,
      nBands: Int = 7,
      bandBits: Int = 8,
      allowSaturated: Boolean = false,
      maxDist: Int = 6): DataFrame = {
    // ONE persisted projection feeds the saturation probe / auto radar
    // AND the (lazy) index + checksum build — the artifact's
    // materialization reads the cache, so raw history is scanned once
    // per build, not once per consumer (single-persist operator: the
    // documented no-scope Caching fallback; under Caching.scoped the
    // frame releases with the caller's action)
    val h = graft.Caching.persist(
      historyHashes.select(col("asset_id"), col("ahash")))
    val (nb, bb) = resolvedScreenLayout(
      h, maxDist, maxBucketDocs, nBands, bandBits, allowSaturated)
    val buckets = mediaBuckets(h, nb, bb)
    val metaRow = historyMetaTailRow(h, Seq("asset_id"), "ahash")
      .select(concat(
        lit(s"nBands=$nb;bandBits=$bb;maxBucketDocs=$maxBucketDocs;"),
        col("_tail")).as("_meta"))
    screenStateOf(
      buckets.where(size(col("cands")) <= maxBucketDocs),
      buckets.where(size(col("cands")) > maxBucketDocs)
        .select(col("band"), col("band_bits")),
      metaRow)
  }

  /** [[mediaScreenState]] for the WINDOW tier: packages
    * [[mediaWindowNearDupIndex]] rows + the layout meta row; start
    * streams with [[mediaWindowNearDupScreenFromState]]. Same
    * [[graft.multimodal.Multimodal.BandAuto]] / single-persist /
    * history-checksum contract as the whole-asset tier. */
  def mediaWindowScreenState(
      historyWindows: DataFrame,
      maxBucketDocs: Int = graft.operators.Dedup.MaxPairBucket,
      nBands: Int = 7,
      bandBits: Int = 8,
      allowSaturated: Boolean = false,
      maxDist: Int = 6): DataFrame = {
    val h = graft.Caching.persist(historyWindows
      .select(col("asset_id"), col("window_id"), col("ahash")))
    val (nb, bb) = resolvedScreenLayout(
      h, maxDist, maxBucketDocs, nBands, bandBits, allowSaturated)
    val buckets = mediaWindowBuckets(h, nb, bb)
    val metaRow = historyMetaTailRow(h, Seq("asset_id", "window_id"), "ahash")
      .select(concat(
        lit(s"nBands=$nb;bandBits=$bb;maxBucketDocs=$maxBucketDocs;"),
        col("_tail")).as("_meta"))
    screenStateOf(
      buckets.where(size(col("cands")) <= maxBucketDocs),
      buckets.where(size(col("cands")) > maxBucketDocs)
        .select(col("band"), col("band_bits")),
      metaRow)
  }

  /**
   * O(delta) EXTENSION of a [[mediaScreenState]] artifact — the
   * [[extendIngestState]] law in hash space: when the history hash
   * corpus grows, fold the delta's band buckets onto the artifact's
   * arrays instead of re-hashing and re-banding all history. Exactly
   * equivalent to `mediaScreenState(history ∪ delta)` at the
   * artifact's OWN layout (the meta row's nBands/bandBits — a BandAuto
   * choice made at build time stays frozen: re-running the radar is a
   * REBUILD decision, and a delta that saturates the frozen layout
   * surfaces through the guard re-applying on merged sizes): kept
   * buckets pushed past `maxBucketDocs` drop whole, buckets in the
   * artifact's `dropped` section stay dropped, and the history
   * checksum composes by sum (the [[extendIngestState]] disjoint-delta
   * AND small-delta-broadcast contracts apply verbatim — a
   * backfill-sized delta belongs in a full rebuild).
   */
  def extendMediaScreenState(
      state: DataFrame, deltaHashes: DataFrame,
      allowSaturated: Boolean = false): DataFrame =
    extendMediaScreenStateCore(state, "mediaScreenState",
      (nb, bb) => mediaBuckets(
        deltaHashes.select(col("asset_id"), col("ahash")), nb, bb),
      historyChecksumRow(deltaHashes, Seq("asset_id"), "ahash"),
      allowSaturated)

  /** [[extendMediaScreenState]] for the WINDOW tier — same law over
    * (asset_id, window_id, ahash) window rows. */
  def extendMediaWindowScreenState(
      state: DataFrame, deltaWindows: DataFrame,
      allowSaturated: Boolean = false): DataFrame =
    extendMediaScreenStateCore(state, "mediaWindowScreenState",
      (nb, bb) => mediaWindowBuckets(
        deltaWindows.select(col("asset_id"), col("window_id"), col("ahash")),
        nb, bb),
      historyChecksumRow(deltaWindows, Seq("asset_id", "window_id"), "ahash"),
      allowSaturated)

  /** The shared delta fold behind both media-tier extensions: merge
    * the delta's UNGUARDED buckets onto the artifact's arrays via a
    * broadcast full-outer join on (band, band_bits), re-apply the hot
    * guard on MERGED sizes with dropped-stays-dropped, and compose the
    * history checksum by sum. */
  private def extendMediaScreenStateCore(
      state: DataFrame,
      builder: String,
      deltaBucketsAt: (Int, Int) => DataFrame,
      deltaChecksumRow: DataFrame,
      allowSaturated: Boolean): DataFrame = {
    val spark = state.sparkSession
    val params = artifactMeta(state, builder,
      required = Seq("nBands", "bandBits", "maxBucketDocs",
        "historyKey", "historyPayload", "historyChecksum"))
    val nb = metaInt(params, "nBands", builder)
    val bb = metaInt(params, "bandBits", builder)
    val maxBucketDocs = metaInt(params, "maxBucketDocs", builder)
    val deltaBuckets = deltaBucketsAt(nb, bb)
    val oldIdx = state.where(col("section") === "index")
      .select(col("band"), col("band_bits"), col("cands"))
    val oldDropped = state.where(col("section") === "dropped")
      .select(col("band"), col("band_bits"))
    val merged = graft.Caching.persist(
      broadcastFullOuterMerge(oldIdx,
          deltaBuckets.withColumnRenamed("cands", "_dc"),
          Seq("band", "band_bits"), "cands", "_dc", concat(_, _))
        .join(broadcast(oldDropped.withColumn("_wasDropped", lit(true))),
          Seq("band", "band_bits"), "left_outer")
        .select(col("band"), col("band_bits"), col("cands"),
          coalesce(col("_wasDropped"), lit(false)).as("_wasDropped")))
    requireUnsaturatedScreenBuckets(
      merged.where(!col("_wasDropped")), maxBucketDocs, allowSaturated,
      s"extend${builder.capitalize}",
      "widen the band layout at the next full rebuild (BandAuto) or " +
        "scale the bound to the corpus's duplication " +
        "(Multimodal.scaledGuardBound)")
    val Array(nOld, sOld) = params("historyChecksum").split(':')
    val Array(nDelta, sDelta) =
      deltaChecksumRow.head().getString(0).split(':')
    val metaRow = spark.range(1).select(
      lit(s"nBands=$nb;bandBits=$bb;maxBucketDocs=$maxBucketDocs;" +
        s"historyKey=${params("historyKey")};" +
        s"historyPayload=${params("historyPayload")};" +
        s"historyChecksum=${nOld.toLong + nDelta.toLong}:" +
        s"${(BigInt(sOld) + BigInt(sDelta)).toString}").as("_meta"))
    screenStateOf(
      merged.where(!col("_wasDropped") &&
          size(col("cands")) <= maxBucketDocs)
        .select(col("band"), col("band_bits"), col("cands")),
      // visible-over-bound ∪ EVERY previously-dropped key — an old
      // dropped bucket with no delta members has no merged row, and
      // losing its key would let a later extension resurrect it
      merged.where(size(col("cands")) > maxBucketDocs)
        .select(col("band"), col("band_bits"))
        .unionByName(oldDropped).distinct(),
      metaRow)
  }

  /** Layout dispatch at the state-build boundary: explicit layouts run
    * the saturation guard below (unless opted out); [[graft.multimodal
    * .Multimodal.BandAuto]] walks the batch tier's ladder over the
    * (already-persisted) history and returns the first unsaturated
    * admissible layout, failing loudly when none exists. */
  private def resolvedScreenLayout(
      hashes: DataFrame,
      maxDist: Int,
      maxBucketDocs: Int,
      nBands: Int,
      bandBits: Int,
      allowSaturated: Boolean): (Int, Int) =
    if (nBands == graft.multimodal.Multimodal.BandAuto)
      graft.multimodal.Multimodal.resolvedBandLayout(
        hashes, maxDist, maxBucketDocs, nBands, bandBits)
    else {
      requireUnsaturatedState(hashes, maxBucketDocs, nBands, bandBits,
        allowSaturated)
      (nBands, bandBits)
    }

  /** SATURATION guard at the state-BUILD boundary — the round-10
    * stress's telltale ("state rows shrink while the corpus grows")
    * caught at the moment it is created instead of noticed later: a
    * build whose guard-skip mass exceeds
    * [[graft.multimodal.Multimodal.SaturationFrac]] would package a
    * mostly-blind index (most buckets dropped whole) and every stream
    * started from it would silently miss most reuse. Fails loudly
    * naming the measured mass and the fixes (wider layout via
    * `Multimodal.bandSaturation`/`deriveBandLayout` reasoning, or a
    * duplication-scaled bound via `Multimodal.scaledGuardBound`);
    * `allowSaturated = true` is the explicit opt-in for deliberately
    * degraded builds (the MediaWindowStressMain measurement arm). */
  private def requireUnsaturatedState(
      hashes: DataFrame,
      maxBucketDocs: Int,
      nBands: Int,
      bandBits: Int,
      allowSaturated: Boolean): Unit = {
    if (allowSaturated) return
    // `hashes` arrives ALREADY persisted by the state builder (the one
    // frame that also feeds the index + checksum build), so the probe
    // here materializes the cache instead of adding a second raw scan
    val frac = graft.multimodal.Multimodal.bandSaturation(
      hashes, maxBucketDocs, nBands, bandBits)
    require(frac <= graft.multimodal.Multimodal.SaturationFrac,
      f"media screen state is SATURATED at ${nBands}x$bandBits " +
        f"(guard-skip mass $frac%.2f of band rows > " +
        f"${graft.multimodal.Multimodal.SaturationFrac}, bound " +
        s"$maxBucketDocs): the packaged index would drop most buckets " +
        "whole and streams serving from it would silently miss most " +
        "reuse — widen the band layout (4x14 covers maxDist <= 3), " +
        "scale the bound to the corpus's duplication " +
        "(Multimodal.scaledGuardBound), or pass allowSaturated = true " +
        "for a deliberately degraded build")
  }

  /** The PRODUCTION stream start for [[mediaNearDupScreen]]: index AND
    * band layout load from one persisted [[mediaScreenState]] artifact;
    * only the stream-side semantic knob (maxDist) remains an argument,
    * validated against the artifact's layout (the pigeonhole
    * contract). Driver-side action: the 1-row meta read. */
  def mediaNearDupScreenFromState(
      hashes: DataFrame,
      state: DataFrame,
      maxDist: Int = 6): DataFrame = {
    val (idx, nBands, bandBits) = screenStateParams(state)
    graft.multimodal.Multimodal.requireBandLayout(nBands, bandBits, maxDist)
    mediaScreenCore(hashes, idx, maxDist, nBands, bandBits)
  }

  /** The PRODUCTION stream start for [[mediaWindowNearDupScreen]] —
    * [[mediaNearDupScreenFromState]]'s window-tier twin over a
    * persisted [[mediaWindowScreenState]] artifact. */
  def mediaWindowNearDupScreenFromState(
      windows: DataFrame,
      state: DataFrame,
      maxDist: Int = 6): DataFrame = {
    val (idx, nBands, bandBits) = screenStateParams(state)
    graft.multimodal.Multimodal.requireBandLayout(nBands, bandBits, maxDist)
    mediaWindowScreenCore(windows, idx, maxDist, nBands, bandBits)
  }

  /** Section-tagged union of index rows, hot-dropped bucket keys, and
    * the one meta row (layout + hot bound + history checksum in
    * `_meta`) — the artifact shape both media-screen states share,
    * assembled identically by the full builds and the delta
    * extensions so the two paths cannot drift. */
  private def screenStateOf(
      idx: DataFrame, dropped: DataFrame, metaRow: DataFrame): DataFrame = {
    val candsT = idx.schema("cands").dataType
    val indexRows = idx.select(lit("index").as("section"), col("band"),
      col("band_bits"), col("cands"), lit(null).cast("string").as("meta"))
    val droppedRows = dropped.select(lit("dropped").as("section"),
      col("band"), col("band_bits"), lit(null).cast(candsT).as("cands"),
      lit(null).cast("string").as("meta"))
    val meta = metaRow.select(lit("meta").as("section"),
      lit(null).cast("long").as("band"),
      lit(null).cast("long").as("band_bits"),
      lit(null).cast(candsT).as("cands"),
      col("_meta").as("meta"))
    indexRows.unionByName(droppedRows).unionByName(meta)
  }

  /** [[mediaNearDupIndex]] WITHOUT the hot-bucket guard — the raw
    * (band, band_bits) → candidate-array aggregation the state
    * builders split into kept + dropped and the extensions build
    * their delta buckets through (hot is decided on MERGED sizes). */
  private def mediaBuckets(
      historyHashes: DataFrame, nBands: Int, bandBits: Int): DataFrame = {
    graft.multimodal.Multimodal.requireBandLayout(nBands, bandBits, 0)
    val mask = (1L << bandBits) - 1
    historyHashes
      .select(col("asset_id").as("hid"), col("ahash").as("hh"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b.toLong).as("band"),
            shiftright(col("ahash"), bandBits * b).bitwiseAND(lit(mask))
              .as("band_bits"))): _*)).as("e"))
      .groupBy(col("e.band").as("band"), col("e.band_bits").as("band_bits"))
      .agg(collect_list(struct(col("hid"), col("hh"))).as("cands"))
  }

  /** [[mediaWindowNearDupIndex]] WITHOUT the hot-bucket guard — the
    * window-tier twin of [[mediaBuckets]] with window identity
    * carried. */
  private def mediaWindowBuckets(
      historyWindows: DataFrame, nBands: Int, bandBits: Int): DataFrame = {
    graft.multimodal.Multimodal.requireBandLayout(nBands, bandBits, 0)
    val mask = (1L << bandBits) - 1
    historyWindows
      .select(col("asset_id").as("mid"), col("window_id").as("mwid"),
        col("ahash").as("hh"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b.toLong).as("band"),
            shiftright(col("ahash"), bandBits * b).bitwiseAND(lit(mask))
              .as("band_bits"))): _*)).as("e"))
      .groupBy(col("e.band").as("band"), col("e.band_bits").as("band_bits"))
      .agg(collect_list(struct(col("mid"), col("mwid"), col("hh"))).as("cands"))
  }

  /** Parse a media-screen state artifact: the index rows plus the
    * derivation parameters from the meta row; a frame without exactly
    * one meta row fails loudly at construction. */
  private def screenStateParams(state: DataFrame): (DataFrame, Int, Int) = {
    val builder = "mediaScreenState / mediaWindowScreenState"
    val raw = artifactMeta(state, builder,
      required = Seq("nBands", "bandBits"))
    val idx = state.where(col("section") === "index")
      .select(col("band"), col("band_bits"), col("cands"))
    (idx, metaInt(raw, "nBands", builder), metaInt(raw, "bandBits", builder))
  }

  /**
   * STREAMING DATA-CARD STATE — the live sibling of
   * [[graft.operators.Pipeline.dataCardState]], completing the live
   * ingest dashboard (decision log [[ingestScreen]] + PCA state
   * [[coMomentStream]] + this card). The batch state's fp/term
   * sections are DISTINCT-mass tables — vocabulary-shaped streaming
   * state, exactly what the klScreen bound exists to forbid — so the
   * live card holds them as HLL SKETCHES instead (the q110 per-source
   * machinery): one streaming aggregation grouped by predicted
   * language (≤ langs rows of state), each row carrying the EXACT
   * lanes (n_docs, n_tokens, round-6 micro-quality sum — the same
   * integer recipes as the batch state, engine-exact under any
   * micro-batch slicing) plus two KB-scale sketches (distinct text
   * fingerprints, distinct terms). HLL register-merge is invariant
   * under slicing (the q110b contract), so after ANY stream prefix the
   * sketch estimates equal a one-pass batch sketch over exactly the
   * rows seen — pinned in StreamingSpec, estimates vs estimates, not
   * a tolerance.
   *
   * Granularity trick (one aggregation, two masses): docs explode to
   * token rows via `posexplode_outer` (an empty doc keeps one
   * null-token row), and a `_first` flag (pos 0 or null) marks exactly
   * one row per doc — doc-level lanes aggregate over `_first` rows,
   * token-level lanes over the token rows, in the SAME groupBy. Run in
   * `update`/`complete` mode; render the card with
   * [[renderDataCardSketch]].
   *
   * @param docs streaming (doc, line)
   * @return streaming (lang, n_docs, n_tokens, q_micro, text_sketch,
   *         term_sketch)
   */
  def dataCardSketchStream(docs: DataFrame): DataFrame = {
    import graft.functions.TextAnalysis
    val toks = filter(split(col("line"), "\\s+"), t => length(t) > 0)
    docs
      .withColumn("_st", TextAnalysis.textStatsCol(col("line")))
      .withColumn("_lang", TextAnalysis.langPredFromStats(col("_st")))
      .withColumn("_qm", round(round(
        TextAnalysis.qualityScoreFromStats(col("_st")), 6) * 1e6).cast("long"))
      .withColumn("_fp", md5(col("line")))
      .select(col("_lang"), col("_qm"), col("_fp"),
        posexplode_outer(toks).as(Seq("_pos", "_term")))
      .withColumn("_first", col("_pos").isNull || col("_pos") === 0)
      .groupBy(col("_lang").as("lang"))
      .agg(
        sum(when(col("_first"), lit(1L)).otherwise(lit(0L))).as("n_docs"),
        count(col("_term")).as("n_tokens"),
        coalesce(sum(when(col("_first"), col("_qm"))), lit(0L)).as("q_micro"),
        hll_sketch_agg(when(col("_first"), col("_fp"))).as("text_sketch"),
        hll_sketch_agg(col("_term")).as("term_sketch"))
  }

  /**
   * Render the one-row LIVE data card from a [[dataCardSketchStream]]
   * state (collected from the sink, or any batch frame of the same
   * shape): exact n_docs / n_tokens / mean_quality / top-language
   * block (the [[graft.operators.Pipeline.renderDataCard]] recipes),
   * with the distinct-text and vocabulary counts as HLL ESTIMATES —
   * columns suffixed `_est` so the estimated fields are never mistaken
   * for the batch card's exact ones.
   */
  def renderDataCardSketch(state: DataFrame): DataFrame = {
    // ≤ langs-row frame: unpartitioned window harmless by construction
    // (the dataCard topLang precedent)
    val langW = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_docs").desc, col("lang"))
    val topLang = state
      .withColumn("_rn", row_number().over(langW))
      .where(col("_rn") === 1)
      .select(col("lang").as("top_lang"), col("n_docs").as("top_lang_n"))
    val flat = state.groupBy().agg(
      coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
      coalesce(sum(col("q_micro")), lit(0L)).as("q_micro"),
      round(hll_sketch_estimate(hll_union_agg(col("text_sketch"))))
        .cast("long").as("n_unique_texts_est"),
      round(hll_sketch_estimate(hll_union_agg(col("term_sketch"))))
        .cast("long").as("vocab_size_est"))
    flat.crossJoin(broadcast(topLang))
      .select(col("n_docs"), col("n_unique_texts_est"),
        round(lit(1.0) - col("n_unique_texts_est").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate_est"),
        col("n_tokens"), col("vocab_size_est"),
        col("top_lang"), col("top_lang_n"),
        round(col("top_lang_n").cast("double") /
          col("n_docs").cast("double"), 6).as("top_lang_share"),
        round(col("q_micro").cast("double") / lit(1e6) /
          col("n_docs").cast("double"), 6).as("mean_quality"))
  }

  /**
   * STREAMING CO-MOMENT STATE — the live twin of
   * [[graft.operators.Similarity.coMomentState]] (incremental PCA):
   * a streaming aggregation whose state IS the Gram kernel's buffer —
   * `gramMoments` is a TypedImperativeAggregate with an exact
   * mergeable buffer (the q214 merge ≡ union contract), so Structured
   * Streaming's state store holds ONE serialized d²-lane buffer and
   * merges each micro-batch into it. Run in `complete` (or `update`)
   * output mode; after any prefix of the stream the emitted
   * (i, j, n_vecs, _sx, _sy, _sxy) rows equal the batch
   * `coMomentState` over exactly the rows seen so far — bit-for-bit,
   * the additive-exact-sums contract (pinned in StreamingSpec) — and
   * [[graft.operators.Similarity.principalComponentFromState]] renders
   * the live PC1 from them (or from
   * [[graft.operators.Similarity.mergeCoMomentStates]] with a
   * persisted history state — the daily-pipeline shape).
   *
   * Scale shape: identical to the batch kernel — each vector is walked
   * once map-side, the exchange carries partial buffers (d² lanes per
   * PARTITION, not per row), and the stored streaming state is one
   * buffer row. The [[graft.operators.Similarity.mergeCoMomentStates]]
   * DECIMAL(38,0) headroom note applies to downstream SQL merges; the
   * in-kernel lanes are BigInt-backed and unbounded.
   */
  def coMomentStream(embs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.GramFunctions.gramMoments
    val xq = transform(col("embedding").cast("array<double>"),
      x => round(x * lit(1e6)).cast("long"))
    embs
      .where(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(gramMoments(xq).as("_g"))
      .select(explode(col("_g")).as("_r"))
      .select(col("_r.i").as("i"), col("_r.j").as("j"),
        col("_r.n_vecs").as("n_vecs"), col("_r._sx").as("_sx"),
        col("_r._sy").as("_sy"), col("_r._sxy").as("_sxy"))
  }
}
