package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The core TF-IDF operator set (SURVEY.md §2 O2–O7), each a composable
 * `DataFrame => DataFrame` transform. One lazy plan per query — no
 * intermediate materialization (the reference writes text to HDFS between
 * every job, TFIDF.java:45→65).
 *
 * Semantics ledger (SURVEY.md §2.4):
 *  - Q1 tokenizer: `\s*\b\s*` boundary split, case-sensitive, punctuation
 *    runs kept as tokens (DocWordCount.java:49,58-64). Spark's `split`
 *    compiles the same java.util.regex pattern → bit-identical tokens.
 *  - Q2 tf = 1 + log10(count) (TermFrequency.java:81).
 *  - Q3 idf = log10(1 + floor(numDocs / df)) — the reference divides two
 *    Java ints (TFIDF.java:146,158,163), i.e. floor division.
 *  - Q4 numDocs is caller-supplied (TFIDF.java:58) with engine default =
 *    corpus document count.
 */
object TfIdf {

  /** The reference tokenizer regex, verbatim (DocWordCount.java:49). */
  val TokenPattern = "\\s*\\b\\s*"

  /** Tokenize a query string on the driver with reference semantics
    * (Search.java:212,225 reuses the same pattern). */
  def tokenizeQuery(query: String): Seq[String] =
    query.split(TokenPattern).toSeq.filter(_.nonEmpty)

  /**
   * O2 — tokenize (doc, line) → (doc, term), dropping empty tokens
   * (DocWordCount.java:59-61). Generator + filter fuse into one
   * whole-stage-codegen'd project in the scan stage — no shuffle.
   */
  def tokenize(docs: DataFrame): DataFrame =
    docs.select(
      col("doc"),
      explode(split(col("line"), TokenPattern)).as("term")
    ).where(length(col("term")) > 0)

  /**
   * O3 — count per (term, doc) (DocWordCount.java:68-79). Catalyst plans
   * partial+final HashAggregate — the map-side combine the reference never
   * registers (no setCombinerClass anywhere; SURVEY.md §4). One shuffle,
   * keyed (term, doc).
   */
  def docWordCount(terms: DataFrame): DataFrame =
    terms.groupBy(col("term"), col("doc")).agg(count(lit(1)).as("count"))

  /** O4 — tf = 1 + log10(count) (TermFrequency.java:81). Pure projection. */
  def termFrequency(counts: DataFrame): DataFrame =
    counts.withColumn("tf", lit(1.0) + log10(col("count")))

  /**
   * O6 — document frequency per term as a window count. Input is unique per
   * (term, doc) by construction, so `count(*) over (partition by term)` ==
   * countDistinct(doc) with no self-join and no per-group HashMap (the
   * reference materializes the whole posting list in reducer memory,
   * TFIDF.java:147-157 — its stop-word OOM anti-pattern; the window
   * streams with spill under Tungsten).
   */
  def withDocumentFrequency(tf: DataFrame): DataFrame =
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))

  /** idf expression — floor-division quirk preserved (TFIDF.java:163). */
  def idfExpr(numDocs: Column, df: Column): Column =
    log10(lit(1) + floor(numDocs.cast("double") / df.cast("double")))

  /**
   * Document frequency per term from a [[termFrequency]] frame, for the
   * two join-back strategies below. It counts `tf`, not a literal: the
   * df side must keep the count of the (term, doc) aggregate it reads,
   * so that column pruning leaves that aggregate's partial-aggregate
   * exchange identical to the tf side's and AQE reuses it at runtime —
   * the corpus is tokenized and shuffled once. `count(lit(1))` lets
   * pruning drop the inner count, and so does `count(col("count"))`:
   * `count` is non-nullable, so NullPropagation rewrites it to
   * `count(1)`. `tf = 1 + log10(count)` is nullable by type (log10 of a
   * non-positive number is null), so `count(tf)` survives; it is never
   * null for count >= 1, so it still counts every (term, doc) row.
   * PlanAuditSpec pins the reuse on q5, q5c, q6 and q69.
   */
  def documentFrequency(tf: DataFrame): DataFrame =
    tf.groupBy(col("term")).agg(count(col("tf")).as("df"))

  /**
   * O6 alternative — document frequency via a broadcast join back: the
   * per-term counts aggregate partial+final (map-side combine collapses a
   * stop-word term to one row per input partition, so term skew never
   * concentrates), the resulting vocab-sized table broadcasts, and the
   * main table is NOT re-shuffled on the skewed term key. Both sides
   * read the same (term, doc) exchange ([[documentFrequency]]), so the
   * corpus is tokenized once. Trade-off vs the window
   * (`withDocumentFrequency`): a vocab-sized df aggregate plus a
   * broadcast build instead of a full-table exchange on the skewed term
   * key. Prefer this when the vocabulary fits in a broadcast and terms
   * are hot; the window costs no extra aggregate when nothing is hot.
   */
  def withDocumentFrequencyBroadcast(tf: DataFrame): DataFrame =
    tf.join(broadcast(documentFrequency(tf)), Seq("term"))

  /**
   * O6 third strategy — df via a SALTED shuffle join, for the corner
   * the other two can't reach: vocabulary too large to broadcast
   * (rules out [[withDocumentFrequencyBroadcast]]) AND hot terms too
   * skewed for a term-partitioned exchange (rules out the window).
   * The vocab-sized df table is replicated `salt` times on a synthetic
   * sub-key; the corpus side derives its sub-key deterministically
   * from the doc, so a stop-word's rows spread across `salt` reducers
   * instead of piling onto one. Cost: the small side grows ×salt (it
   * is vocab-sized, not corpus-sized — cheap) and the join shuffles on
   * (term, salt) instead of term. As with the broadcast strategy, the
   * df side reuses the tf side's (term, doc) exchange
   * ([[documentFrequency]]). AQE's skew-join split covers the same
   * failure mode adaptively; this is the explicit, planner-independent
   * form.
   */
  def withDocumentFrequencySalted(tf: DataFrame, salt: Int = 16): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val rep = documentFrequency(tf)
      .select(col("term"), col("df"),
        explode(sequence(lit(0), lit(salt - 1))).as("_s"))
    // `pmod` is nullable by type, so a bare pmod join key makes Catalyst
    // infer `isnotnull(pmod(...))` and push it into the tf side's scan;
    // the tf side's (term, doc) exchange then differs from the df
    // side's and is not reused. The coalesce is non-nullable and never
    // changes the value (the divisor is a literal >= 1).
    tf.withColumn("_s", coalesce(pmod(hash(col("doc")), lit(salt)), lit(0)))
      .join(rep, Seq("term", "_s"))
      .drop("_s")
  }

  /**
   * O2–O7 fused: (doc, line) corpus → (term, doc, count, tf, df, tfidf).
   *
   * @param numDocs reference semantics: user-supplied N (TFIDF.java:58),
   *                may legally disagree with the corpus; None = engine
   *                default, the corpus document count computed inside the
   *                same lazy plan (single-row broadcast cross join — no
   *                driver-side action, scale-safe).
   * @param dfViaBroadcast O6 strategy: broadcast join back (true, the
   *                default — skew-safe: no full-table shuffle on the hot
   *                `term` key) vs window over term (false) — see
   *                `withDocumentFrequencyBroadcast` for the trade-off.
   * @param dfSalt when set, overrides `dfViaBroadcast` with the salted
   *                shuffle join (`withDocumentFrequencySalted`) — the
   *                giant-vocabulary + hot-term corner.
   */
  def tfidf(
      docs: DataFrame,
      numDocs: Option[Long] = None,
      dfViaBroadcast: Boolean = true,
      dfSalt: Option[Int] = None): DataFrame = {
    val tf = termFrequency(docWordCount(tokenize(docs)))
    val scored = dfSalt match {
      case Some(r) => withDocumentFrequencySalted(tf, r)
      case None =>
        if (dfViaBroadcast) withDocumentFrequencyBroadcast(tf)
        else withDocumentFrequency(tf)
    }
    numDocs match {
      case Some(n) =>
        scored.withColumn("tfidf", col("tf") * idfExpr(lit(n), col("df")))
      case None =>
        // Distinct doc count as a 1-row broadcast: stays one lazy plan.
        val n = docs.select(col("doc")).agg(countDistinct(col("doc")).as("num_docs"))
        scored
          .crossJoin(broadcast(n))
          .withColumn("tfidf", col("tf") * idfExpr(col("num_docs"), col("df")))
          .drop("num_docs")
    }
  }

  /**
   * Skew RADAR → O6 strategy choice, the planner the three df
   * strategies were built for ([[withDocumentFrequency]] /
   * [[withDocumentFrequencyBroadcast]] /
   * [[withDocumentFrequencySalted]] each own a corner; until now the
   * caller had to know which corner they were in):
   *
   *  - no θ-hot term → "window": with no hot key the term-partitioned
   *    exchange of the (term, doc) table is safe, and it needs no df
   *    aggregate or broadcast build. Every strategy tokenizes the
   *    corpus once (the join-back ones share the tf side's exchange,
   *    [[documentFrequency]]), so the choice is only about that term
   *    exchange;
   *  - hot terms, vocabulary fits a broadcast → "broadcast": the df
   *    table broadcasts and the corpus is never re-shuffled on the
   *    skewed key;
   *  - hot terms AND vocabulary too large to broadcast → "salted": the
   *    (term, salt) shuffle spreads each stop-word across reducers.
   *
   * EAGER by design (the q81/skewJoin precedent): the radar is
   * [[HotKeys.hotKeysSketched]] on the token stream — a fixed-size
   * count-min sketch plus a candidates-only confirm, driver-bounded by
   * ⌊1/θ⌋ keys — and, only when something is hot, one
   * `approx_count_distinct` aggregate for the vocabulary size. Two to
   * three radar jobs that read tokens, never shuffle the corpus; at
   * 100 TB that is noise next to picking the wrong join shape.
   */
  def chooseDfStrategy(
      docs: DataFrame,
      theta: Double = 0.01,
      maxBroadcastVocab: Long = 10000000L): String = {
    require(maxBroadcastVocab >= 1,
      s"maxBroadcastVocab must be >= 1, got $maxBroadcastVocab")
    val toks = tokenize(docs)
    val anyHot = !HotKeys.hotKeysSketched(toks, "term", theta).isEmpty
    if (!anyHot) "window"
    else {
      val vocab = toks.agg(approx_count_distinct(col("term")).as("v"))
        .head().getLong(0)
      if (vocab <= maxBroadcastVocab) "broadcast" else "salted"
    }
  }

  /**
   * [[tfidf]] with the O6 strategy picked by [[chooseDfStrategy]]'s
   * skew radar instead of the caller. The choice is answer-invisible —
   * all three strategies are pinned to the same oracle (q5 ≡ q5b ≡
   * q5c ≡ q5d) — so this is a pure plan-shape optimization, the q81
   * invisible-optimization pattern.
   */
  def tfidfAuto(
      docs: DataFrame,
      numDocs: Option[Long] = None,
      theta: Double = 0.01,
      maxBroadcastVocab: Long = 10000000L,
      salt: Int = 16): DataFrame =
    chooseDfStrategy(docs, theta, maxBroadcastVocab) match {
      case "window"    => tfidf(docs, numDocs, dfViaBroadcast = false)
      case "broadcast" => tfidf(docs, numDocs, dfViaBroadcast = true)
      case _           => tfidf(docs, numDocs, dfSalt = Some(salt))
    }

  /**
   * Per-document keyword extraction: the top-k terms of each document by
   * TF-IDF — the classic downstream use of the reference's own operator
   * chain (O2–O7 feed a per-doc rank instead of a global one). Rank
   * order is (rounded tfidf desc, term asc) — a total order, so the
   * result is deterministic across engines and partitionings.
   *
   * Scale shape: everything [[tfidf]] costs plus ONE window shuffle
   * keyed on `doc` (row_number over a per-doc partition — bounded
   * partitions, no global sort; Catalyst plans the rank filter as
   * WindowGroupLimit pushdown, so only k rows per doc survive the
   * exchange).
   */
  def keywords(
      docs: DataFrame,
      k: Int = 5,
      numDocs: Option[Long] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("tfidf").desc, col("term"))
    tfidf(docs, numDocs)
      .withColumn("tfidf", round(col("tfidf"), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("doc"), col("term"), col("tfidf"), col("rnk"))
  }
}
