package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Query-term semi-join + per-doc score aggregation (SURVEY.md §2 O8/O9;
 * Search.java:210-252).
 *
 * Reference quirk Q7 (Search.java:230 — `break` commented out): a score row
 * is emitted once PER MATCHING QUERY TOKEN, so a duplicated query term
 * double-counts. `parityDuplicates = true` preserves that multiset
 * semantics; the default dedups tokens (documented divergence,
 * SURVEY.md §2.4 Q7).
 *
 * Scale: the query terms prune the tf-idf chain. A `term IN (query
 * terms)` filter goes in front of the join; Catalyst pushes it through
 * the tfidf projection, the numDocs cross join and the df join into both
 * (term, doc) aggregates, down to just above the tokenizer, so tf and df
 * are computed for the query terms only, never for the whole vocabulary.
 * The query token set is tiny → explicit `broadcast()` makes the join a
 * BroadcastHashJoin with zero shuffle of the score table; the join stays
 * (it carries the per-token multiplicity of `parityDuplicates`), and the
 * only shuffle after it is the final groupBy(doc), which Catalyst
 * partial-aggregates map-side.
 */
object Search {

  /** Per-doc sum of the query tokens' tfidf — one row per matching
    * token, so a repeated token counts twice. The filter on the distinct
    * tokens scopes `scores`' lineage to the query terms (see above). */
  def searchTokens(scores: DataFrame, tokens: Seq[String]): DataFrame = {
    val spark = scores.sparkSession
    import spark.implicits._
    scores
      .where(col("term").isin(tokens.distinct: _*))
      .join(broadcast(tokens.toDF("term")), Seq("term"), "inner")
      .groupBy(col("doc"))
      .agg(sum(col("tfidf")).as("score"))
  }

  /** Full pipeline: corpus → tfidf → filter by query → per-doc score. */
  def search(
      docs: DataFrame,
      query: String,
      numDocs: Option[Long] = None,
      parityDuplicates: Boolean = false): DataFrame = {
    val raw = TfIdf.tokenizeQuery(query)
    val tokens = if (parityDuplicates) raw else raw.distinct
    searchTokens(TfIdf.tfidf(docs, numDocs), tokens)
  }

  /**
   * Conjunctive (AND) search — the search mode the reference's OR-sum
   * cannot express: only documents containing EVERY query term score,
   * still by summed tf-idf. Same term-scoped broadcast semi-join plan as
   * [[searchTokens]] plus a HAVING on the matched distinct-term count
   * (terms are unique per (term, doc) after aggregation, so `count(*)` IS
   * the distinct match count) — no second pass, no intersection join
   * chain.
   */
  def searchAllTokens(scores: DataFrame, tokens: Seq[String]): DataFrame = {
    val spark = scores.sparkSession
    import spark.implicits._
    scores
      .where(col("term").isin(tokens.distinct: _*))
      .join(broadcast(tokens.distinct.toDF("term")), Seq("term"), "inner")
      .groupBy(col("doc"))
      .agg(sum(col("tfidf")).as("score"), count(lit(1)).as("_matched"))
      .where(col("_matched") === tokens.distinct.length)
      .drop("_matched")
  }

  def searchAll(
      docs: DataFrame,
      query: String,
      numDocs: Option[Long] = None): DataFrame =
    searchAllTokens(TfIdf.tfidf(docs, numDocs), TfIdf.tokenizeQuery(query))

  /**
   * PHRASE search: documents containing the query terms CONSECUTIVELY,
   * in order, with per-doc occurrence counts. One row per candidate
   * start position (`explode(sequence(...))`), then a per-token equality
   * conjunction against the phrase literals. Scale: map-only scan —
   * zero joins, one (doc)-keyed aggregation over only the MATCHING
   * positions; the single-token "phrase" degenerates to a term-presence
   * filter.
   */
  def searchPhrase(docs: DataFrame, phrase: String): DataFrame = {
    val tokens = TfIdf.tokenizeQuery(phrase)
    require(tokens.nonEmpty, "phrase must contain at least one token")
    val n = tokens.length
    // One row per candidate start position, then a codegen'd per-token
    // conjunction — NOT a higher-order gram build: array HOFs
    // (transform/filter with lambdas) evaluate interpreted, and a
    // filter on the derived count inlines the whole chain twice
    // (projection collapse), which measured 5× slower than this shape.
    // The explode stays inside whole-stage codegen, the conjunction
    // prunes before the (tiny) doc aggregation.
    val matches = (0 until n)
      .map(k => element_at(col("_toks"), col("_i") + k + 1) === lit(tokens(k)))
      .reduce(_ && _)
    docs
      .select(col("doc"), Dedup.tokensCol(col("line")).as("_toks"))
      .where(size(col("_toks")) >= n)
      .select(col("doc"), col("_toks"),
        explode(sequence(lit(0), size(col("_toks")) - n)).as("_i"))
      .where(matches)
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /**
   * PROXIMITY search: documents where every query term occurs within
   * SOME `window`-token span — the unordered "slop" complement of
   * [[searchPhrase]]'s exact-consecutive match — with the number of
   * matching window start positions as an evidence count. Same
   * exploded-start-position map-only scan shape as [[searchPhrase]]:
   * zero joins, one doc-keyed aggregation; per-position cost is the
   * `window`-length slice plus one `array_contains` per distinct query
   * term (O(L · window · |terms|) per doc — keep `window` span-sized,
   * tens not thousands).
   */
  def searchNear(docs: DataFrame, query: String, window: Int = 8): DataFrame = {
    val terms = TfIdf.tokenizeQuery(query).distinct
    require(terms.nonEmpty, "query must contain at least one token")
    require(window >= terms.length,
      s"window ($window) must fit the ${terms.length} distinct query terms")
    val win = slice(col("_toks"), col("_i") + 1, lit(window))
    val containsAll = terms
      .map(t => array_contains(col("_win"), lit(t)))
      .reduce(_ && _)
    docs
      .select(col("doc"), Dedup.tokensCol(col("line")).as("_toks"))
      .where(size(col("_toks")) >= terms.length)
      .select(col("doc"), col("_toks"),
        explode(sequence(lit(0), greatest(size(col("_toks")) - window, lit(0))))
          .as("_i"))
      .select(col("doc"), win.as("_win"))
      .where(containsAll)
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_windows"))
  }

  /**
   * Okapi BM25 per-(term, doc) relevance scores (Robertson et al.,
   * TREC-3), with the always-positive idf variant:
   *
   *   idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
   *   score(t, D) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))
   *
   * The ranking function the reference's raw tf-idf sum predates:
   * saturating tf (a 100-occurrence term is not 100× more relevant) and
   * document-length normalization (long docs don't win by volume).
   *
   * Scale shape: the (term, doc) count shuffle, ONE doc-keyed window
   * exchange for |D| (which [[searchBm25]]'s per-doc aggregation then
   * reuses — no further exchange), a vocab-sized broadcast join for df,
   * and a 1-row broadcast for (N, avgdl) — computed from the same
   * window frame; its (doc, |D|) distinct needs no extra exchange
   * because the frame is already doc-partitioned. No corpus-sized
   * driver state anywhere.
   *
   * @param dfViaBroadcast df strategy, the same trade-off as
   *        `TfIdf.tfidf`: broadcast join back (default — skew-safe, no
   *        full-table shuffle on the hot `term` key; its df side reuses
   *        the count lineage's exchange, see `TfIdf.documentFrequency`)
   *        vs a window over term (a full exchange on a skewed key).
   *        Flip only when the vocabulary outgrows the broadcast
   *        threshold.
   */
  def bm25Scores(
      docs: DataFrame,
      k1: Double = 1.2,
      b: Double = 0.75,
      dfViaBroadcast: Boolean = true): DataFrame = {
    require(k1 >= 0, s"k1 must be >= 0, got $k1")
    require(b >= 0 && b <= 1, s"b must be in [0, 1], got $b")
    val counts = TfIdf.docWordCount(TfIdf.tokenize(docs))
    val withLen = counts.withColumn(
      "dl", sum(col("count")).over(Window.partitionBy(col("doc"))))
    val stats = withLen
      .select(col("doc"), col("dl")).distinct()
      .agg(count(lit(1)).as("num_docs"), avg(col("dl")).as("avgdl"))
    val idf = log(lit(1) +
      (col("num_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val withDf =
      if (dfViaBroadcast) {
        val dfPerTerm = TfIdf.documentFrequency(TfIdf.termFrequency(counts))
        withLen.join(broadcast(dfPerTerm), Seq("term"))
      } else {
        withLen.withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("term"))))
      }
    withDf
      .crossJoin(broadcast(stats))
      .withColumn("score",
        idf * (col("count") * lit(k1 + 1)) /
          (col("count") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .select(col("term"), col("doc"), col("score"))
  }

  /** BM25 semi-join + per-doc sum over a precomputed [[bm25Scores]]
    * frame (callers that pre-round for cross-engine comparison use
    * this directly). */
  def searchBm25Tokens(scores: DataFrame, tokens: Seq[String]): DataFrame = {
    val spark = scores.sparkSession
    import spark.implicits._
    scores
      .join(broadcast(tokens.distinct.toDF("term")), Seq("term"), "inner")
      .groupBy(col("doc"))
      .agg(sum(col("score")).as("score"))
  }

  /** BM25-ranked search: per-doc sum of the query terms' BM25 scores —
    * the same broadcast semi-join + doc aggregation shape as
    * [[search]], on the modern scoring function. */
  def searchBm25(
      docs: DataFrame,
      query: String,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    searchBm25Tokens(bm25Scores(docs, k1, b), TfIdf.tokenizeQuery(query).distinct)

  /**
   * PMI-EXPANDED BM25 search — classic corpus-statistical query
   * expansion (the thesaurus-free half of Rocchio/local-analysis
   * expansion): each query term recruits its top-`m` PMI co-occurrence
   * neighbors from the corpus's OWN association table (q39's
   * [[graft.functions.TextAnalysis.cooccurrencePmi]]), and documents
   * score Σ w_t · bm25(t, D) with originals at weight 1 and expansion
   * terms at `expWeight` — vocabulary-mismatch recall (docs that say
   * "shuffle" when the query says "exchange") without a model.
   *
   * Determinism: PMI is round-6 and the neighbor pick is the
   * (pmi DESC, term) row_number — engine-replayable; per-term BM25
   * scores round-6, then the WEIGHTED SUM runs — and is EMITTED — in
   * exact integers (micro score × micro weight, `score_u` in 1e-12
   * units). With ~5× the terms of q69 both float hazards fire in
   * practice: the sum's accumulation order flips round-6 boundaries,
   * and a final decimal re-round TIES exactly (odd micro score ×
   * 500000 ends in …500000) where engines' double-tie behavior
   * differs — so no float ever leaves the operator (the q88
   * micro-int convention taken to its conclusion). Expansion terms
   * recruited by several query terms count once (distinct before
   * weighting), and a term that is itself a query term is never
   * down-weighted (originals excluded from expansion).
   *
   * Scale shape: the PMI table is vocab²-bounded but the query filter
   * cuts it to |q| rows before the window; weights are a ≤|q|·(m+1)
   * broadcast onto the q69 score lineage — the expansion adds ZERO
   * corpus-scale exchanges over plain BM25.
   */
  def searchBm25Expanded(
      docs: DataFrame,
      query: String,
      m: Int = 2,
      expWeight: Double = 0.5,
      window: Int = 2,
      minCount: Int = 2,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(expWeight > 0 && expWeight <= 1,
      s"expWeight must be in (0,1], got $expWeight")
    val spark = docs.sparkSession
    import spark.implicits._
    val qTerms = TfIdf.tokenizeQuery(query).distinct
    val pmi = graft.functions.TextAnalysis
      .cooccurrencePmi(docs, window, minCount)
    val nb = pmi.where(col("t1").isin(qTerms: _*))
      .select(col("t1").as("qterm"), col("t2").as("term"), col("pmi"))
      .unionByName(pmi.where(col("t2").isin(qTerms: _*))
        .select(col("t2").as("qterm"), col("t1").as("term"), col("pmi")))
      .where(!col("term").isin(qTerms: _*))
    val wNb = Window.partitionBy(col("qterm"))
      .orderBy(col("pmi").desc, col("term"))
    val weights = qTerms.toDF("term")
      .withColumn("wmicro", lit(1000000L))
      .unionByName(nb
        .withColumn("rk", row_number().over(wNb))
        .where(col("rk") <= m)
        .select(col("term")).distinct()
        .withColumn("wmicro", lit(math.round(expWeight * 1e6))))
    bm25Scores(docs, k1, b)
      .withColumn("smicro", round(round(col("score"), 6) * 1e6).cast("long"))
      .join(broadcast(weights), Seq("term"))
      .groupBy(col("doc"))
      .agg(sum(col("smicro") * col("wmicro")).as("score_u"))
  }

  /**
   * MATERIALIZED index build — at 100 TB a search service does not
   * re-run the O2–O7 corpus chain per query: persist the (term, doc,
   * tfidf) score table once, range-partitioned and sorted by `term`, so
   * every probe's term predicate prunes parquet row groups via min/max
   * stats and dictionary pages instead of scanning the index. Rebuild
   * on corpus change (or compose with the incremental dedup/vocab tier
   * for delta maintenance).
   *
   * @param fileCount output files; size so each holds a contiguous term
   *                  range of a few hundred MB at the target corpus.
   */
  def buildIndex(
      docs: DataFrame,
      out: String,
      numDocs: Option[Long] = None,
      fileCount: Int = 32): Unit =
    TfIdf.tfidf(docs, numDocs)
      .select(col("term"), col("doc"), col("tfidf"))
      .repartitionByRange(fileCount, col("term"))
      .sortWithinPartitions(col("term"))
      .write.mode("overwrite").parquet(out)

  /** Open a [[buildIndex]] output. Every probe re-opens the index, so
    * the read goes through [[graft.sources.Corpus.parquet]]: while the
    * index files are unchanged, opening it launches no schema job. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.sources.Corpus.parquet(spark, path)

  /** Probe a read-back [[buildIndex]] frame: the term predicate is an
    * `isin` FILTER (not a join) precisely so it reaches the parquet
    * scan as `PushedFilters: In(term, ...)` — asserted in CorpusSpec. */
  def searchIndexTokens(index: DataFrame, tokens: Seq[String]): DataFrame =
    index
      .where(col("term").isin(tokens.distinct: _*))
      .groupBy(col("doc"))
      .agg(sum(col("tfidf")).as("score"))

  /** One indexed query end-to-end: pruned scan + per-doc sum. Results
    * equal [[search]] with default (deduped) token semantics — pinned
    * by the q71 oracle, which reuses q6's SQL. */
  def searchIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      query: String): DataFrame =
    searchIndexTokens(readIndex(spark, indexPath), TfIdf.tokenizeQuery(query))

  /**
   * RECIPROCAL-RANK FUSION (Cormack, Clarke & Büttcher, SIGIR 2009) —
   * hybrid retrieval's merge step: combine several ranked arms (a
   * lexical BM25 run, an embedding-cosine run, ...) into one list by
   * summed reciprocal ranks, rrf(d) = Σ_arms 1/(K + rank_arm(d)).
   * Fusing by RANK rather than raw score needs no per-arm calibration
   * — the arms' scores live on incomparable scales (BM25 sums vs
   * cosines) — which is why RRF is the standard hybrid-search baseline
   * the dense+sparse retrievers behind RAG corpora all start from.
   *
   * Determinism across engines: the reciprocal is integer-quantized —
   * contribution = 10⁹ div (K + rank), a LONG division — so a doc's
   * fused score is a sum of longs: exact, order-free, no float
   * accumulation to drift between Spark and the oracle (the DSIR
   * micro-nat recipe). Within an arm, rank order is the total order
   * (score desc, doc asc); callers feeding float scores should
   * pre-round them so both engines rank identical values.
   *
   * Scale shape: each arm is truncated to its `topN` FIRST via
   * orderBy+limit — Spark plans TakeOrderedAndProject (per-partition
   * heaps, driver merge), never a global sort — and the within-arm
   * rank is then a window over ≤ topN rows, the one place a
   * single-partition exchange is harmless (the frame is bounded by
   * construction, like the B-row model frames). The fuse itself is a
   * union + one doc-keyed partial agg. Nothing here scales with the
   * corpus; the arms' own retrieval plans dominate.
   *
   * @param arms (doc, score) frames, one per retrieval run
   * @return (doc, rrf_micro, n_arms): fused score — the sum of each
   *         retrieving arm's ⌊10⁹/(K+rank)⌋ — and the arm count
   */
  def rrfFuse(arms: Seq[DataFrame], topN: Int = 100, kRrf: Int = 60): DataFrame = {
    require(arms.nonEmpty, "rrfFuse needs at least one arm")
    require(topN > 0, s"topN must be positive, got $topN")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    val contribs = arms.map { arm =>
      arm.select(col("doc"), col("score"))
        .orderBy(col("score").desc, col("doc"))
        .limit(topN)
        .withColumn("rnk", row_number()
          .over(Window.orderBy(col("score").desc, col("doc"))).cast("long"))
        .select(col("doc"),
          expr(s"CAST(1000000000 AS BIGINT) div (${kRrf}L + rnk)").as("contrib"))
    }
    contribs.reduce(_.unionByName(_))
      .groupBy(col("doc"))
      .agg(sum(col("contrib")).as("rrf_micro"), count(lit(1)).as("n_arms"))
  }

  /**
   * Hybrid lexical+dense search over aligned `documents`/`embeddings`
   * tables: BM25 for the query string, cosine against the query
   * vector, fused by [[rrfFuse]]. The BM25 arm pre-rounds scores to 6
   * decimals (the q69 cross-engine recipe) so rank ties resolve
   * identically everywhere; the cosine arm is already rounded by
   * [[Similarity.cosineTopK]].
   */
  def searchHybrid(
      docs: DataFrame,
      embeddings: DataFrame,
      query: String,
      queryVecId: Long,
      topN: Int = 100,
      kRrf: Int = 60): DataFrame = {
    val lexical = searchBm25Tokens(
      bm25Scores(docs).withColumn("score", round(col("score"), 6)),
      TfIdf.tokenizeQuery(query).distinct)
      .withColumn("score", round(col("score"), 6))
    val dense = Similarity
      .cosineTopK(embeddings, embeddings.where(col("vec_id") === queryVecId), topN)
      .select(col("n_vec_id").as("doc"), col("cos").as("score"))
    rrfFuse(Seq(lexical, dense), topN, kRrf)
  }

  /**
   * RANKING EVALUATION — recall@k, MRR, and binary-relevance nDCG@k
   * per query: the metrics harness every retrieval tier here (BM25,
   * hybrid RRF, and the four ANN families) should be graded with,
   * generalizing the ad-hoc recall contracts (q25b/q26b/…) into one
   * reusable operator. `truth` is the relevant set per query (e.g.
   * the exact cosine top-k for an ANN arm, or labeled judgments).
   *
   * Metric notes: recall@k divides by min(|truth|, k) (a system
   * cannot retrieve more than k); MRR is 1/rank of the first
   * relevant hit (0 when none); nDCG uses binary gains —
   * DCG = Σ_hits 1/log2(rank+1), ideal = the same sum over ranks
   * 1..min(|truth|, k) (one generated fold, no second pass). The
   * log2 sums round to 6 — summation noise is ~k ulps, far below the
   * rounding grain, so both engines agree (the q139 avg convention).
   *
   * Scale shape: one semi-join of results against the truth set +
   * two query-keyed aggregates — everything keyed by query; queries
   * with NO relevant hits still emit (zeros), via the truth-side
   * outer join.
   *
   * @param results (q_vec_id, n_vec_id, rank) — rank 1-based
   * @param truth   (q_vec_id, n_vec_id) relevant pairs
   * @return per q_vec_id: n_rel, n_hits, recall, mrr, ndcg (round 6)
   */
  def evalRanking(results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val r = results.where(col("rank") <= k)
      .select(col("q_vec_id"), col("n_vec_id"), col("rank"))
    val hits = r.join(truth.select(col("q_vec_id"), col("n_vec_id")),
        Seq("q_vec_id", "n_vec_id"), "left_semi")
      .groupBy(col("q_vec_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("rank")).as("_first"),
        sum(lit(1.0) / log2(col("rank") + 1)).as("_dcg"))
    val nRel = truth.groupBy(col("q_vec_id"))
      .agg(count(lit(1)).as("n_rel"))
    val denom = least(col("n_rel"), lit(k.toLong))
    nRel.join(hits, Seq("q_vec_id"), "left_outer")
      .select(col("q_vec_id"), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          denom.cast("double"), 6).as("recall"),
        round(coalesce(lit(1.0) / col("_first"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("_dcg"), lit(0.0)) /
          aggregate(sequence(lit(1L), denom), lit(0.0),
            (acc, i) => acc + lit(1.0) / log2(i + 1)), 6).as("ndcg"))
  }

  /** The d=1 deletion neighborhood of a term: the term itself plus
    * every single-character deletion — SymSpell's candidate key (Garbe
    * 2012): two terms within edit distance 1 ALWAYS share a
    * neighborhood entry (equal / deletion / insertion directly;
    * substitution via the common deletion at the substituted
    * position), so the candidate join has no false negatives; false
    * positives (e.g. transposed "ab"/"ba" share "a") are killed by the
    * exact Levenshtein verify. */
  private def delNeighborhood(t: Column): Column =
    array_union(array(t),
      transform(sequence(lit(0), length(t) - 1), i =>
        concat(t.substr(lit(1), i),
          t.substr(i + lit(2), length(t) - i - lit(1)))))

  /**
   * FUZZY (edit-distance ≤ 1) search — typo-tolerant retrieval without
   * a vocabulary×query scan: query terms match any vocabulary term
   * within Levenshtein 1 via the SymSpell deletion-neighborhood join
   * (vocabulary side fans out ×(len+1) ONCE, candidates meet on an
   * equal deletion key, the exact distance verifies the survivors),
   * then the matched (q_term, term) pairs drive the q6 semi-join
   * scoring — a vocab term matching two query terms contributes per
   * match, the reference's OR-sum semantics extended to fuzzy hits.
   *
   * Scale shape: the neighborhood explosion is vocabulary-bounded
   * (never corpus-bounded), the query side is a broadcast literal, the
   * verified match table is queries×candidates tiny and broadcasts
   * back onto the score frame. The corpus is never rescanned for
   * fuzziness.
   *
   * @return (doc, score, n_terms_matched) — summed tf-idf over fuzzy
   *         hits + how many distinct query terms matched the doc
   */
  def searchFuzzyTokens(scores: DataFrame, tokens: Seq[String]): DataFrame = {
    require(tokens.nonEmpty, "query must contain at least one token")
    val spark = scores.sparkSession
    import spark.implicits._
    val qdel = tokens.distinct.toDF("q_term")
      .select(col("q_term"), explode(delNeighborhood(col("q_term"))).as("del"))
    val matched = scores.select(col("term")).distinct()
      .select(col("term"), explode(delNeighborhood(col("term"))).as("del"))
      .join(broadcast(qdel), Seq("del"))
      .select(col("q_term"), col("term")).distinct()
      .where(levenshtein(col("q_term"), col("term")) <= 1)
    scores
      .join(broadcast(matched), Seq("term"))
      .groupBy(col("doc"))
      .agg(sum(col("tfidf")).as("score"),
        countDistinct(col("q_term")).as("n_terms_matched"))
  }

  def searchFuzzy(
      docs: DataFrame,
      query: String,
      numDocs: Option[Long] = None): DataFrame =
    searchFuzzyTokens(TfIdf.tfidf(docs, numDocs), TfIdf.tokenizeQuery(query))

  /**
   * SNIPPET extraction — the result-page half of search: for every doc
   * containing any query term, the FIRST match position (1-based,
   * earliest across query terms) and a ±`window`-token excerpt around
   * it. Map-only codegen'd column work over one tokenized scan — no
   * joins, no shuffle beyond the final ordering the caller adds; at
   * 100 TB this is the same scan the score pass already makes.
   *
   * Determinism: `array_position` gives the first occurrence per term;
   * `least` over those (null-skipping) picks the earliest; the slice
   * clamps identically on both engines (length-truncating here,
   * end-clamping in the oracle's inclusive-index form — same tokens).
   *
   * @return (doc, first_pos, snippet) for matching docs only
   */
  def searchSnippets(
      docs: DataFrame,
      query: String,
      window: Int = 3): DataFrame = {
    require(window >= 0, s"window must be >= 0, got $window")
    val tokens = TfIdf.tokenizeQuery(query).distinct
    require(tokens.nonEmpty, "query must contain at least one token")
    val toks = filter(split(col("line"), "\\s+"), t => length(t) > 0)
    val posExprs = tokens.map(t =>
      when(array_position(col("_toks"), lit(t)) > 0,
        array_position(col("_toks"), lit(t))))
    val firstPos =
      if (posExprs.size == 1) posExprs.head else least(posExprs: _*)
    docs
      .withColumn("_toks", toks)
      .withColumn("first_pos", firstPos)
      .where(col("first_pos").isNotNull)
      .withColumn("_start", greatest(lit(1L), col("first_pos") - lit(window.toLong)))
      .withColumn("snippet",
        array_join(slice(col("_toks"), col("_start").cast("int"),
          lit(2 * window + 1)), " "))
      .select(col("doc"), col("first_pos"), col("snippet"))
  }
}
