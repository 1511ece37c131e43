package graft

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, In, InSet, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/**
 * Physical-plan regression guard over the whole declared query surface:
 * no CartesianProduct anywhere, and no BroadcastNestedLoopJoin except
 * the intentional 1-row numDocs broadcast cross inside the TF-IDF
 * lineage (TfIdf.tfidf with numDocs = None). An accidental all-pairs
 * join introduced by a future refactor fails here before it ever
 * reaches a benchmark.
 */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose plan carries an INTENTIONAL broadcast nested-loop:
    *  - the 1-row numDocs broadcast cross inside the TF-IDF lineage
    *    (q5/q5b/q6/q7/q7b);
    *  - q15's brute-force exact baseline, which by definition scores
    *    every (query, corpus) pair — a broadcast of the tiny query side
    *    over one corpus scan is the correct plan for that contract;
    *  - q16's exact all-pairs verification tier (declared O(n²) spec;
    *    q16b is the bucketed production path);
    *  - q26's IVF centroid assignment — n·k dot products against a
    *    broadcast centroid sample is the definition of the operator. */
  private val nestedLoopAllowed = Set(
    "q5_tfidf", "q5b_tfidf_window", "q5c_tfidf_salted",
    "q5d_tfidf_auto", // the same 1-row numDocs cross (tfidf lineage)
    "q6_search",
    "q7_rank", "q7b_tfidf_rank",
    "q15_cosine_topk", "q16_embedding_near_dup", "q26_ann_ivf_topk",
    "q146_weighted_jaccard", // all-pairs verification tier by declared
                             // design (the q16 pattern): the dense
                             // small-vocab route's d1<d2 vector cross
                             // replaces the Σ df² ≈ V·N² sparse shuffle
                             // with codegen arithmetic
    "q25b_ann_lsh_recall", // embeds q15's exact side as the recall denominator
    "q26b_ann_ivf_recall", // q26's IVF twin: exact side + centroid broadcast
    "q95b_ann_multiprobe_recall", // embeds q15's exact side as the recall
                                  // denominator, same as q25b/q26b
    "q99b_pq_adc_topk", // compressed-domain brute-force scan by declared
                        // design: broadcast query LUTs × code table (the
                        // q15 recipe at m bytes/vector)
    "q99c_pq_recall", // the ADC scan + q15's exact recall denominator
    "q171_int8_topk", // the same compressed-domain scan at 8-bit cells:
                      // broadcast quantized queries × byte-code table
    "q171b_int8_recall", // the int8 scan + q15's exact recall denominator
    "q100_ann_index_append", // q26's centroid broadcast cross (assign +
                             // probe), same as q82
    "q222_ann_filtered", // q26's centroid broadcast cross over the
                         // filtered candidate side
    "q222b_ann_filtered_recall", // filtered IVF + q15's exact side over
                                 // the filtered slice (the q26b shape)
    "q222c_ann_filtered_indexed", // q82's probe-side centroid broadcast;
                                  // the label filter is an equi-scan
                                  // predicate, not a join
    "q223_ann_index_delete", // q82's probe-side centroid broadcast (the
                             // tombstone anti-join is equi on vec_id)
    "q223b_ann_index_compact", // same probe shape after compaction
    "q226_ann_reinsert", // same probe shape after delete→compact→append
                         // (q82's probe-side centroid broadcast)
    "q101_ivfpq_topk", // the same centroid broadcast cross (IVF stage)
    "q229_ivfpq_filtered", // q101's centroid broadcast cross; the label
                           // predicate is a scan filter, not a join
    "q229b_ivfpq_filtered_recall", // the filtered ADC tier + q15's exact
                                   // side over the filtered slice (the
                                   // q222b shape)
    "q229c_ivfpq_refined_recall", // both filtered ADC arms (centroid
                                  // broadcast cross) + q15's exact side
                                  // over the filtered slice
    "q230_hamming_serve", // the serve screen's 1-row cents-array
                          // broadcast cross (the annSearchStream shape)
                          // + q82's build-side centroid broadcast
    "q230b_hamming_serve_recall", // the serve cross + q135's flat
                                  // hamming scan (broadcast queries) as
                                  // the recall denominator
    "q231_int8_serve", // the serve screen's 1-row cents-array broadcast
                       // cross + q82's build-side centroid broadcast
    "q231b_int8_serve_recall", // the serve cross + q171's flat SDC scan
    "q232_filtered_serve_refresh", // the float serve screen's 1-row
                                   // cents-array broadcast cross + q82's
                                   // build-side centroid broadcast
    "q233_hamming_filtered_serve", // the q230 serve cross under the
                                   // serialized predicate
    "q234_int8_filtered_serve", // the q231 serve cross under the
                                // serialized predicate
    "q236_ann_retrain", // q82's probe-side centroid broadcast over the
                        // retrained quantizer
                               // (broadcast quantized queries) as the
                               // recall denominator
    "q103_hard_negatives", // exact tier = q15's declared full scan with
                           // the near-dup ceiling; q103b is the LSH twin
    "q104_integrity_audit", // 1-row report-combining crosses only
    "q159_type_correlation", // the hour-grid completion: distinct hours
                             // × the ≤T-row broadcast type list — a
                             // dashboard-sized deliberate cross, never
                             // event-scale
    "q108_embedding_decontaminate", // exact decontamination screen: the
                                    // q15-shaped broadcast of the small
                                    // bench set over one corpus scan
    "q225_embedding_ingest", // q108's bench broadcast inside the
                             // contamination stage (the exact stage is
                             // an equi-join on the array key)
    "q82_ann_indexed", // q26's probe-side centroid broadcast (the
                       // partitioned-scan side joins on cell, equi)
    "q54_kmeans", // Lloyd assignment = n·k broadcast-centroid dot products
    "q55_semantic_dedup", // embeds q54's k-means as its bucketing stage
    "q118_cluster_labels", // q54's k-means assignment + a 1-row
                           // corpus-token-total broadcast cross
    "q209_cluster_top_terms", // q54's k-means assignment + a 1-row
                              // linked-doc-count broadcast cross

    "q58_keywords", // the same 1-row numDocs cross (tfidf lineage)
    "q67_search_all", // the same 1-row numDocs cross (tfidf lineage)
    "q177_search_fuzzy", // the same 1-row numDocs cross (tfidf lineage)
    "q69_search_bm25", // 1-row (N, avgdl) corpus-stats broadcast cross
    "q69b_bm25_window", // same 1-row stats cross, window-df strategy
    "q162_search_expanded", // q69's 1-row stats cross + q39's 1-row
                            // total-count crosses (it composes both
                            // lineages)
    "q183_length_deciles", // 1-row total-count broadcast cross over the
                           // ranked frame (the q59 threshold pattern)
    "q213_curriculum", // the same 1-row total-count broadcast cross
                       // over the quality-ranked frame (epoch admission
                       // needs N for the exact rn·E < e·N test)
    "q187_daily_acf", // 7-row lag-list broadcast cross over the dense
                      // (type, day) grid — both sides days-bounded
    "q193_coverage_curve", // 1-row (V, total-tokens) broadcast cross
                           // over the ranked vocabulary
    "q194_heaps_curve", // 1-row max-doc-id broadcast cross over the
                        // per-term first-seen frame
    "q59_quality_filter", // 1-row quantile-threshold broadcast cross
    "q64_quality_bins", // 1-row quantile-threshold-array broadcast cross
    "q66_events_winsorize", // 1-row clip-band broadcast cross
    "q73_sample_by_weight", // 1-row avg-weight broadcast cross
    "q35_related_docs", // 1-row corpus-count crosses (numDocs + df cutoff)
    "q31b_corpus_stats_approx", // 1-row exact × 1-row HLL contract cross
    "q39_cooccurrence_pmi", // 1-row total-count crosses (N tokens, P pairs)
    "q46_bigram_lm", // 1-row vocabulary-size (V) broadcast cross
    "q98_perplexity_buckets", // the same 1-row vocabulary-size (V) cross
                              // (rides q46's bigramLmScore lineage)
    "q78_hot_keys", // 1-row total-count broadcast cross
    "q148_kl_novelty", // 1-row corpus-token-total broadcast cross
    "q150_kl_incremental", // the same 1-row reference-total cross
    "q79_term_drift", // 1-row (n_a, n_b, V) broadcast cross
    "q80b_projection_distortion", // 5-query broadcast over one corpus
                                  // scan x2 (exact + projected cosines)
    "q83_zorder_layout", // 1-row min/max stats broadcast cross
    "q83b_zorder_skipping", // 1-row stats + 1-row box-bounds crosses
    "q87b_split_leakage", // 1-row split-counts × 1-row pair-counts cross
    "q173b_kfold_leakage", // folds-bounded sizes × 1-row pair-counts cross
    "q88_naive_bayes", // distinct-buckets × C-row class frame — the
                       // dense smoothed conditional table (≤ B·C rows)
    "q88b_nb_confusion", // same model cross
    "q174_nb_calibration", // same model cross (q88 lineage)
    "q112_model_quality_filter", // q88's NB model cross on the
                                 // target-vs-raw relabeled corpus
    "q89_coverage_sample", // q54's Lloyd centroid broadcast cross
    "q91b_split_incremental_leakage", // 1-row new-counts × 1-row
                                      // pair-counts cross
    "q94_hybrid_search", // q69's 1-row (N, avgdl) stats cross + q15's
                         // 1-query-vector broadcast over the corpus scan
    "q122_source_overlap", // the S×S matrix frame: per-source totals
                           // (sources² rows, a driver-safe handful)
                           // crossed on s1 < s2 — corpus-scale exchanges
                           // are all fp- or pair-keyed
    "q124_source_overlap_kmv", // the same tiny S×S pair frame, built
                               // from O(S·k) sketch rows
    "q124b_kmv_quality", // embeds both overlap tiers' S×S pair frames
    "q130_mips_topk", // the q15 broadcast-query scan, ranking on dot
    "q130b_mips_reduction", // both brute-force rankings (dot + the
                            // augmented cosine) + the 1-row max-norm
                            // broadcast cross
    "q131_knn_classify", // the q15 scan feeding the majority vote
    "q189_matryoshka_topk", // the q15 broadcast-query scan on the
                            // 16-component prefix slice
    "q189b_matryoshka_recall", // the prefix scan + q15's exact side
    "q153b_hashed_cosine", // r14 fan-gate route: the inverted index
                           // prunes nothing on this flat-vocab fixture
                           // (fan ≥ cross, no hot bucket), so the verify
                           // is the bounded broadcast inequality cross;
                           // the forced index route stays hash-join-only
                           // (PruningAuditSpec pins it)
    "q153c_hashed_cosine_incremental", // same gate, delta × broadcast
                                       // history cross
    "q153d_hashed_cosine_auto", // same gate via the auto-dims wrapper
    "q135_hamming_topk", // compressed-domain brute force by declared
                         // design (the q99b recipe at 6 B/vector)
    "q135b_hamming_recall", // the Hamming scan + q15's exact side
    "q139_data_card", // 1-row vocab × 1-row top-lang summary crosses
    "q166_data_card_incremental", // the same 1-row × ≤5-row card crosses
                                  // over the merged state
    "q167_embedding_health", // 1-row audit × 1-row dead-dim cross
    "q143_search_eval") // q26's centroid broadcast cross + q15's exact
                        // side as the truth set

  test("no cartesian or nested-loop joins in any declared query plan") {
    val dir = "/root/testdata/sf0.001"
    // Allowlist hygiene: an entry whose plan no longer contains a BNLJ is
    // STALE — it would silently re-admit a future accidental nested loop.
    // Collecting the stale set here means the allowlist can only shrink.
    val stale = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      withClue(s"$name plan:\n$plan\n") {
        plan should not include "CartesianProduct"
        if (!nestedLoopAllowed(name))
          plan should not include "BroadcastNestedLoopJoin"
        else if (!plan.contains("BroadcastNestedLoopJoin")) stale += name
      }
    }
    val unknown = nestedLoopAllowed -- SparkEntry.queries.keySet
    withClue("nestedLoopAllowed entries naming no declared query:") {
      unknown shouldBe empty
    }
    withClue("nestedLoopAllowed entries whose plan has no BNLJ any more " +
      "(stale — delete them):") {
      stale.toSeq shouldBe empty
    }
  }

  test("every declared query has a matching oracle entry") {
    SparkEntry.oracleSql.keySet shouldBe SparkEntry.queries.keySet
  }

  /** Shuffle budgets for the training-prep tier: the number of
    * hash-partitioned exchanges each plan is ALLOWED to contain. The
    * final oracle ORDER BY contributes a range exchange, not counted
    * here; a refactor that sneaks an extra data shuffle into a
    * map-only operator fails this before it reaches a benchmark. */
  private val hashExchangeBudget = Map(
    "q47_chunk_docs" -> 0, // map-only array slicing
    "q50_redact" -> 0, // map-only regex fold
    "q48_pack_sequences" -> 1, // the bucket-window shuffle
    "q49_encode_tokens" -> 1, // vocab count agg at cache fill counts 0
                              // (live plan: broadcast dict join only)
    "q51_training_prep" -> 2, // dedup fingerprint + pack bucket-window
    "q56_substring_dedup" -> 3, // span-hash window + removed-pos distinct
                                // + doc regroup (candidate joins broadcast
                                // at this SF; they shuffle past threshold)
    "q57_mixture_sample" -> 2, // per-source token agg + report agg; the
                               // rate join is a broadcast
    "q58_keywords" -> 5, // tfidf lineage (count, df, numDocs partials)
                         // + the per-doc rank window
    "q68_search_phrase" -> 1, // map-only position scan + doc agg
    "q70_search_near" -> 1, // map-only window scan + doc agg
    "q69_search_bm25" -> 6, // counts ×2 (df side runtime-reused) + dl
                            // window + df agg + stats twin (runtime-
                            // reused); doc agg reuses the window's
                            // partitioning — no 7th
    "q71_search_indexed" -> 1, // pruned index scan + doc agg
    "q72_winnow_fingerprints" -> 1, // map-only gen + (doc, fp) distinct
    "q73_sample_by_weight" -> 0, // map-only keep decision; avg(w) is a
                                 // 1-row single-partition agg
    "q74_winnow_pairs" -> 7, // fp distinct ×2 branches (runtime-reused)
                             // + hot-fp agg + pair join sides + pair agg
    "q75_corpus_rollup" -> 1, // one grouping-sets exchange over the
                              // kernel scan
    "q40b_dedup_bloom" -> 0, // bloom probe rides the SCAN (a data
                             // filter); confirm anti-join broadcasts at
                             // this SF, shuffles past threshold
    "q5c_tfidf_salted" -> 4, // (term,doc) counts ×2 (the df side's is
                             // runtime-reused: one tokenization) +
                             // term df agg + numDocs distinct; the
                             // salted join itself broadcasts at this SF
                             // (shape pinned under no-broadcast below)
    "q31b_corpus_stats_approx" -> 1, // exact multi-distinct expand agg;
                                     // HLL side is partial->1-row final
    "q76_events_retention" -> 2, // user-day collect_set + triangle agg
    "q77_incremental_prep" -> 2, // q51's two (dedup window + pack
                                 // window); the bloom screen rides the
                                 // scans, confirm anti-join broadcasts
    "q78_hot_keys" -> 1, // the key agg; total is a 1-row broadcast
    "q78b_hot_keys_sketched" -> 1, // confirm agg over screened rows —
                                   // the cms probe rides the SCAN
                                   // (pinned below like q40b's bloom)
    "q79_term_drift" -> 0, // live plan reads the cached merged counts;
                           // the cache fill pays the two term aggs once
    "q80_random_projection" -> 0, // map-only sign-matrix dot products
    "q81_skew_join" -> 2, // one profile agg per branch (hot/cold INSET
                          // filters pushed to the scans); the joins
                          // broadcast at this SF — salted exchange
                          // shape pinned under no-broadcast in
                          // HotKeysSpec
    "q83_zorder_layout" -> 0, // interleave is map-only arithmetic; the
                              // min/max stats are a 1-row broadcast
    "q83b_zorder_skipping" -> 2, // one per-cell footer agg per layout;
                                 // box bounds are 1-row broadcasts
    "q84_epoch_shuffle" -> 1, // THE contract: one shard exchange for
                              // the per-shard rank — never a global
                              // sort (final ORDER BY is a range
                              // exchange, not counted)
    "q84b_epoch_shuffle_balance" -> 1, // shard counts reuse the window's
                                       // partitioning; summary is 1-row
    "q85_temperature_mixture" -> 2, // per-source token agg + report agg;
                                    // the √-weight normalizer is a
                                    // window over the tiny sources
                                    // frame, the rate join a broadcast
    "q86_importance_resample" -> 2, // bucket-model agg + doc-score agg;
                                    // model joins back as a broadcast,
                                    // top-k is TakeOrdered (never a
                                    // global sort)
    "q86b_importance_contract" -> 2, // same two; the contract reduce
                                     // is a 1-row global agg
    "q88_naive_bayes" -> 6, // fit: ONE (bucket,label) token agg (cached,
                            // 3 consumers) + distinct-buckets + class
                            // totals + doc priors, all ≤ B·C rows;
                            // score: (doc,bucket) counts → ×C lik agg →
                            // argmax agg
    "q88b_nb_confusion" -> 7, // + the (lang, predicted) rollup
    "q88c_nb_rowlocal" -> 0, // THE twin's contract: the collected-model
                             // scoring plan is one stateless projection
                             // — no exchange at all (final ORDER BY is
                             // a range exchange, not counted)
    "q90_source_dup_stats" -> 2, // (source, fp) fingerprint agg +
                                 // C-row source rollup
    "q92_sample_per_group" -> 1, // ONE group-partitioned window (the
                                 // rank filter is WindowGroupLimit-
                                 // pushed); never a global sort
    "q93_length_histogram" -> 1, // one ≤64-row bin aggregate
    "q99_pq_codes" -> 0, // THE tier's contract: encoding 10⁹ vectors is
                         // one codegen projection against the collected
                         // codebook literals — no exchange at all (final
                         // ORDER BY is a range exchange, not counted)
    "q128_rendezvous_shard" -> 0, // THE tier's contract: HRW assignment
                                  // is one codegen argmax projection —
                                  // map-only, zero exchanges
    "q134_corpus_checksum" -> 1, // one (source)-keyed aggregate; the
                                 // row hash folds map-side
    "q125_event_transitions" -> 3, // user successor window + (from,to)
                                   // agg + the tiny matrix-frame
                                   // normalizer window
    "q133_event_paths" -> 2, // ONE user window serves every lead +
                             // the path agg; top-k is TakeOrdered,
                             // never a global sort
    "q123_events_anomaly" -> 2, // (type,hour) count agg + the tiny
                                // per-type stats window
    "q138_seasonal_baseline" -> 2, // same shape: count agg + hod-slot
                                   // window over the tiny frame
    "q129_quality_percentile" -> 1, // kernel scan + ONE lang-partitioned
                                    // percent_rank window
    "q132_sample_weighted_k_group" -> 1, // map-only ES keys + ONE
                                         // group window (rank filter
                                         // WindowGroupLimit-pushed)
    "q135_hamming_topk" -> 1) // signatures are map-only projections;
                              // the one exchange is the per-query rank
                              // window after the broadcast join

  /** Drop `InMemoryRelation` subtrees from a plan string: the cached
    * plan executes ONCE when the cache fills (inside buildVocab's
    * histogram action), not per consuming query — and the plan printer
    * repeats the relation body, so counting its exchanges would both
    * double-count and mis-attribute them to the consumer. */
  private def liveSection(plan: String): String = {
    var skipIndent = -1
    plan.linesIterator.filter { l =>
      val indent = l.indexWhere(_.isLetter)
      if (skipIndent >= 0 && indent > skipIndent) false
      else {
        skipIndent = if (l.contains("InMemoryRelation")) indent else -1
        !l.contains("InMemoryRelation")
      }
    }.mkString("\n")
  }

  test("training-prep tier stays within its declared shuffle budget") {
    val dir = "/root/testdata/sf0.001"
    hashExchangeBudget.foreach { case (name, budget) =>
      val plan = liveSection(SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString)
      val hashes = "Exchange hashpartitioning".r.findAllIn(plan).size
      withClue(s"$name plan:\n$plan\n") {
        hashes should be <= budget
      }
    }
  }

  /** The vocabulary tier must never plan a single-partition sort: the
    * raw whitespace vocabulary of a web corpus is 10⁸–10⁹ terms, and a
    * one-task global rank there is the pipeline's wall. buildVocab's
    * two-stage rank (range partition + per-partition index + broadcast
    * offsets) keeps every exchange parallel; this pins that plan shape.
    * (The queries' own final ORDER BY plans an `Exchange
    * rangepartitioning` — parallel, and not matched by this ban.) */
  test("vocabulary-ranked queries plan no single-partition exchange") {
    val dir = "/root/testdata/sf0.001"
    Seq("q49_encode_tokens", "q53_vocab_coverage",
        "q61_vocab_incremental").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      withClue(s"$name plan:\n$plan\n") {
        plan should not include "Exchange SinglePartition"
      }
    }
  }

  test("q188's co-moment kernel is the Gram aggregate, not a posexplode fan-out") {
    // The covariance/PCA family's kernel contract: each vector is
    // walked ONCE by the typed Gram accumulator — the old plan fanned
    // every vector out to d(d+1)/2 rows (2,080× at d = 64) through
    // posexplode × slice-posexplode before partial aggregation.
    // Only q188's plan is lazy through the kernel — the PCA queries
    // (q196/q199/q208) collect the dimension-bounded co-moments at
    // construction time for the driver eigensolve, so their final
    // plans are a LocalTableScan / projection with no aggregate to pin.
    val plan = SparkEntry.queries("q188_embedding_covariance")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    withClue(s"q188 plan:\n$plan\n") {
      plan should include ("graft_gram_moments")
      plan should not include "posexplode"
    }
  }

  test("q40b's bloom probe is pushed into the parquet scan, not a post-join filter") {
    val plan = SparkEntry.queries("q40b_dedup_bloom")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // The screen only pays off if rejected rows die AT THE SCAN — the
    // probe must appear among the scan's data filters, so the
    // definitely-new branch never materializes rows for the join.
    withClue(s"plan:\n$plan\n") {
      val scanWithProbe = plan.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("graft_bloom_might_contain"))
      assert(scanWithProbe, "bloom probe not in any FileScan's DataFilters")
    }
  }

  test("q78b's cms screen is pushed into the parquet scan, not a post-shuffle filter") {
    val plan = SparkEntry.queries("q78b_hot_keys_sketched")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // Same contract as the q40b bloom pin: the screen only pays off if
    // cold-key rows die AT THE SCAN, before the confirm agg's exchange.
    withClue(s"plan:\n$plan\n") {
      val scanWithProbe = plan.linesIterator.exists(l =>
        l.contains("FileScan parquet") && l.contains("graft_cms_estimate"))
      assert(scanWithProbe, "cms probe not in any FileScan's DataFilters")
    }
  }

  test("salted df strategy shuffles on (term, salt) once the df table cannot broadcast") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try {
      val plan = graft.operators.TfIdf
        .tfidf(corpus("a" -> "x y", "b" -> "x z"), dfSalt = Some(8))
        .queryExecution.executedPlan.toString
      withClue(s"plan:\n$plan\n") {
        // the join's exchange must carry the synthetic sub-key — that
        // IS the skew spread; a term-only exchange would re-create the
        // hot partition the strategy exists to break up
        assert("hashpartitioning\\(term#\\d+, _s#\\d+".r.findFirstIn(plan).isDefined,
          "no (term, _s) exchange found")
      }
    } finally spark.conf.set(threshold, old)
  }

  private def isTermIn(e: Expression): Boolean = e.exists {
    case In(a: AttributeReference, _)    => a.name == "term"
    case InSet(a: AttributeReference, _) => a.name == "term"
    case _                               => false
  }

  test("q6/q7 push the query-term filter below both (term, doc) aggregates") {
    // The search scores only the query terms: the tf side and the df
    // side each count (term, doc) pairs, and both must do it over the
    // query terms' tokens only, not over the whole vocabulary.
    Seq("q6_search", "q7_rank").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.optimizedPlan
      val termDocAggs = plan.collect {
        case a: Aggregate if a.groupingExpressions.collect {
            case r: AttributeReference => r.name
          }.toSet == Set("term", "doc") => a
      }
      withClue(s"$name optimized plan:\n$plan\n") {
        termDocAggs should have size 2
        termDocAggs.foreach { a =>
          assert(a.child.exists {
            case f: Filter => isTermIn(f.condition)
            case _         => false
          }, "a (term, doc) aggregate reads tokens not filtered to the query terms")
        }
      }
    }
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  test("tf-idf and bm25 tokenize the corpus once: the df side reuses the tf side's exchange") {
    // AQE reuses an exchange only when it creates the query stages, so
    // only the executed (final) plan shows the reuse.
    Seq("q5_tfidf", "q5c_tfidf_salted", "q6_search", "q69_search_bm25").foreach { name =>
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan
      withClue(s"$name final plan:\n$plan\n") {
        plan.toString should include ("isFinalPlan=true")
        Aqe.collect(plan) { case r: ReusedExchangeExec => r } should not be empty
        // the tokenizer's explode(split(line)); q5c's salt explode is not one
        Aqe.collect(plan) {
          case g: GenerateExec if g.generator.exists(_.isInstanceOf[StringSplit]) => g
        } should have size 1
      }
    }
  }
}
