package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (builder-prompt extension
 * surface; SURVEY.md §7.4). Input shape: (vec_id, embedding array<float>).
 *
 * Vector math runs through the codegen-native `DotProduct` expression
 * (org.apache.spark.sql.graft.VectorExpressions) — no UDF, no interpreted
 * lambdas,
 * no driver collect. Arithmetic is done in double (cast from float) with
 * a sequential-fold sum, so results are portable across engines.
 *
 * Scale design:
 *  - Norms are computed ONCE per vector before any pair join, so the
 *    O(n²) pair stage does exactly one dot product per pair (vs three
 *    when cosine recomputes both norms pairwise).
 *  - `cosineTopK` is the exact baseline: broadcast the (small) query set,
 *    stream the corpus once, per-query top-k via window row_number. At
 *    1000 executors this is a map-only pass over the corpus + one shuffle
 *    of the scored survivors.
 *  - `lshCosineTopK` is the scale path: `bits` random-hyperplane sign bits
 *    (hyperplane directions derived deterministically from md5 — no RNG
 *    state to ship to executors); candidates restricted to same-bucket,
 *    then exact re-rank. Recall < 1, cost ~2^bits-fold lower.
 */
object Similarity {

  import org.apache.spark.sql.graft.VectorFunctions.dotProduct

  /** Sentinel `bits` value: derive the hyperplane count from the corpus
    * size (`deriveLshBits`) instead of trusting a fixed default. */
  val AutoBits: Int = -1

  /** Hot-bucket guard bound for the near-dup pair join — buckets with
    * more vectors than this are excluded from pairing (O(m²) straggler
    * risk); embedding buckets are coarser than MinHash band buckets, so
    * the bound is looser than `Dedup.MaxPairBucket`. */
  val MaxPairBucket = 5000

  /** Plan-unique suffix for observe() metric names (Spark requires
    * distinct CollectMetrics names within one query plan). */
  private val obsId = new java.util.concurrent.atomic.AtomicInteger()

  /**
   * LSH bucket-bit sizing rule, in code (the round-2 verdict's ask):
   * candidate volume ≈ tables · n²/2^bits, so target mean bucket size
   * `targetBucket` via 2^bits ≈ n/targetBucket, clamped to [4, 20].
   * At the measured 20k-vector stress point this yields 8 bits (the
   * no-cliff setting); at n ≤ 1600 it yields the floor of 4.
   */
  def deriveLshBits(n: Long, targetBucket: Long = 100L): Int = {
    require(targetBucket > 0)
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(20, math.max(4, needed))
  }

  /** Σ aᵢ·bᵢ over two array<double> columns — codegen-native. */
  def dot(a: Column, b: Column): Column = dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** (prefix_vec_id, prefix_emb, prefix_nrm) — norm materialized once per
    * vector so pair joins pay a single dot product per pair. */
  private def withNorm(df: DataFrame, prefix: String): DataFrame =
    df.select(col("vec_id").as(s"${prefix}_vec_id"),
        asDouble(col("embedding")).as(s"${prefix}_emb"))
      .withColumn(s"${prefix}_nrm",
        sqrt(dot(col(s"${prefix}_emb"), col(s"${prefix}_emb"))))

  /**
   * Exact brute-force top-k cosine neighbors for each query vector.
   * @param corpus  (vec_id, embedding)
   * @param queries (vec_id, embedding), small — gets broadcast
   */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = withNorm(corpus, "n")
    val q = withNorm(queries, "q")
    val scored = c
      .join(broadcast(q), col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 6))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("n_vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_vec_id"), col("n_vec_id"), col("cos"), col("rank"))
  }

  /** All-pairs cosine ≥ threshold (embedding near-dup tier). O(n²) —
    * exact verification tier; bucket with LSH first at scale. */
  def nearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = withNorm(corpus, "a")
    val b = withNorm(corpus, "b")
    a.join(b, col("a_vec_id") < col("b_vec_id"))
      .withColumn("cos", round(
        dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 6))
      .where(col("cos") >= threshold)
      .select(col("a_vec_id").as("d1"), col("b_vec_id").as("d2"), col("cos"))
  }

  /**
   * Per-vector int8 quantization — the storage/bandwidth lever for
   * 100 TB embedding tables: scale = (max − min)/255,
   * q_i = clamp(⌊(x_i − min)/scale + 0.5⌋, 0, 255), reconstruction
   * x̂_i = min + q_i·scale (error ≤ scale/2 per dimension). Quantized
   * vectors drive the cheap candidate stages (bucketing, coarse scoring)
   * at 4× less memory; exact re-ranks stay on the fp column. Constant
   * vectors (scale 0) quantize to all-zeros. Pure codegen column
   * expressions — map-only, deterministic, engine-portable (explicit
   * +0.5-then-floor instead of engine-specific rounding modes).
   */
  def quantizeInt8(corpus: DataFrame): DataFrame = int8Quantized(corpus, Nil)

  /** [[quantizeInt8]] with pass-through columns carried beside the
    * codes (the serve-state builder needs `cell`) — the SAME affine
    * expressions, one definition. */
  private def int8Quantized(corpus: DataFrame, carry: Seq[String]): DataFrame =
    corpus.select(col("vec_id") +: asDouble(col("embedding")).as("emb") +:
        carry.map(col): _*)
      .withColumn("minv", array_min(col("emb")))
      .withColumn("scale", (array_max(col("emb")) - col("minv")) / lit(255.0))
      .withColumn("q",
        when(col("scale") === 0, transform(col("emb"), _ => lit(0)))
          .otherwise(transform(col("emb"), x =>
            least(greatest(floor((x - col("minv")) / col("scale") + lit(0.5)),
              lit(0.0)), lit(255.0)).cast("int"))))

  /** The per-vector int8 candidate stats [[int8SdcTopK]] scores from —
    * codes plus (min, scale, d, Σq, Σq²) under a `p`-prefixed naming —
    * shared with the serve-state builder and the streaming serve twin
    * so the three paths quantize identically by construction. Pure
    * column expressions: runs on batch and streaming frames alike. */
  private[graft] def int8Coded(
      df: DataFrame, p: String, carry: Seq[String] = Nil): DataFrame =
    int8Quantized(df, carry).select(
      Seq(
        col("vec_id").as(p + "vec_id"),
        col("q").as(p + "q"),
        col("minv").as(p + "min"),
        col("scale").as(p + "s"),
        size(col("q")).cast("long").as(p + "d"),
        aggregate(col("q"), lit(0L), (a, x) => a + x.cast("long"))
          .as(p + "sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + (x * x).cast("long"))
          .as(p + "qq")) ++ carry.map(col): _*)

  /** Reconstruction of a quantized vector: x̂_i = min + q_i·scale. */
  def dequantizeInt8(quantized: DataFrame): DataFrame =
    quantized.withColumn("emb_approx",
      transform(col("q"), qi => col("minv") + qi * col("scale")))

  /**
   * INT8 SYMMETRIC top-k (SDC over [[quantizeInt8]] codes) — the
   * middle rung of the memory ladder between PQ (32×, q99) and sign
   * bits (42×, q135): 8-bit cells are 4× smaller than fp32 at
   * near-exact recall. Both sides quantize, and the approximate
   * cosine expands ALGEBRAICALLY so the float vectors are never
   * touched at scoring time:
   *
   *   ⟨x̂,ŷ⟩ = mx·my·d + mx·sy·Σqy + my·sx·Σqx + sx·sy·Σqx_iqy_i
   *   ‖x̂‖²  = mx²·d + 2·mx·sx·Σqx + sx²·Σqx²
   *
   * The per-pair work is the Σqx_iqy_i term — an EXACT integer
   * inner product over byte cells (the SIMD/memory lever at 10⁹
   * vectors); Σq, Σq² and (min, scale) are per-VECTOR stats computed
   * once. Every heavy sum is a long; the correction arithmetic is a
   * fixed-order double expression replayed verbatim by the oracle,
   * and the score surfaces round-6 with vec_id tie-break. Zero-norm
   * reconstructions score null and sort last.
   *
   * Scale shape: corpus-side stats are map-only; queries broadcast
   * (the q15/q99 flat-scan shape, the declared swap-in point for the
   * IVF/LSH pruners when n grows); ranking is one per-query window.
   * The recall contract is q171b, the q99c pattern.
   *
   * @return (q_vec_id, n_vec_id, cos_sdc, rank) rank ≤ kTop
   */
  def int8SdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      kTop: Int = 10): DataFrame = {
    require(kTop >= 1, s"kTop must be >= 1, got $kTop")
    def coded(df: DataFrame, p: String): DataFrame = int8Coded(df, p)
    def normSq(p: String): Column =
      col(p + "min") * col(p + "min") * col(p + "d") +
        lit(2.0) * col(p + "min") * col(p + "s") * col(p + "sum") +
        col(p + "s") * col(p + "s") * col(p + "qq")
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos_sdc").desc_nulls_last, col("n_vec_id"))
    coded(corpus, "n_")
      .join(broadcast(coded(queries, "q_")),
        col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("_ipq",
        aggregate(zip_with(col("q_q"), col("n_q"), (a, b) => (a * b).cast("long")),
          lit(0L), (s, v) => s + v))
      .withColumn("_ip",
        col("q_min") * col("n_min") * col("n_d") +
          col("q_min") * col("n_s") * col("n_sum") +
          col("n_min") * col("q_s") * col("q_sum") +
          col("q_s") * col("n_s") * col("_ipq"))
      .withColumn("_nq", normSq("q_"))
      .withColumn("_nn", normSq("n_"))
      .withColumn("cos_sdc",
        when(col("_nq") > 0 && col("_nn") > 0,
          round(col("_ip") / (sqrt(col("_nq")) * sqrt(col("_nn"))), 6)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= kTop)
      .select(col("q_vec_id"), col("n_vec_id"), col("cos_sdc"), col("rank"))
  }

  /**
   * Sign-matrix random projection (Achlioptas ±1 JL transform) to
   * `outDim` dimensions: projected_p = ⟨emb, r_p⟩ / √outDim with the
   * SAME deterministic hyperplane rows the LSH family uses
   * (`signRow` — md5-derived, so engine and oracle share the matrix).
   * The other memory lever next to [[quantizeInt8]]: fewer dims instead
   * of narrower cells, and the standard pre-pass that brings
   * wider-than-[[MaxDim]] vectors under the LSH ceiling, or shrinks the
   * exact-rerank dot products of the ANN tiers.
   *
   * Map-only and codegen'd — `outDim` dot products per row against
   * literal sign arrays, no shuffle; the JL guarantee (pairwise inner
   * products preserved within ±ε for outDim ≈ ln n/ε²) is pinned by the
   * recall contract query rather than trusted (q80b: exact top-k on the
   * projection vs on the original).
   */
  def randomProject(corpus: DataFrame, outDim: Int): DataFrame = {
    require(outDim >= 1 && outDim <= MaxDim,
      s"outDim must be in [1, $MaxDim], got $outDim")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      .where(dimGuard(col("embedding")))
      // r14: one SignProject expression instead of outDim typedLit dot
      // products — element-identical (same FMA order, same scale
      // multiply), with the sign matrix as JVM state instead of
      // outDim × 1024 literal doubles in the plan (guide §4; the same
      // plan-bloat remedy as SignBits in r13).
      .select(col("vec_id"),
        org.apache.spark.sql.graft.VectorFunctions
          .signProject(col("embedding"), outDim, scale).as("projected"))
  }

  /** Hyperplane directions support vectors up to this dimension. Inputs
    * beyond it fail loudly (see `dimGuard`) — silent truncation to the
    * first 1024 dims would quietly degrade bucket quality. */
  val MaxDim = 1024

  /** Per-row dimensionality assert for LSH paths: codegen'd, map-only;
    * `coalesce` keeps the predicate in the plan (assert_true returns NULL
    * when it passes, so the filter keeps every valid row). */
  private def dimGuard(emb: Column): Column =
    coalesce(assert_true(size(emb) <= MaxDim,
      concat(lit(s"embedding dimension "), size(emb),
        lit(s" exceeds MaxDim=$MaxDim — hyperplane sign rows are only " +
          "defined up to that; raise Similarity.MaxDim for wider vectors"))),
      lit(true))

  /**
   * Deterministic pseudo-random hyperplane sign r_h[j] ∈ {−1, +1}: hex
   * digit (j mod 16) of md5("h:j"), ≥ '8' ⇒ +1. The signs depend only on
   * (h, j), so the whole matrix is computed ONCE driver-side and shipped
   * as literal arrays — the per-row work is `bits` codegen'd dot products,
   * not bits×dim md5 calls.
   */
  private def signRow(h: Int): Seq[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until MaxDim).map { j =>
      val hex = md.digest(s"$h:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.charAt(j % 16) >= '8') 1.0 else -1.0
    }
  }

  /** `bits`-bit random-hyperplane bucket id for an array<double> column.
    * One native [[org.apache.spark.sql.graft.SignBits]] expression —
    * bit-identical to the historical per-bit `when(dot > 0, 1<<h)`
    * chain, but the plan carries two ints instead of bits × 1024
    * literal doubles (the chain form cost ~400 KB of literals per call
    * site: optimizer canonicalization hashed the arrays on every pass
    * and every task binary shipped them — guide §4 "eliminate
    * non-codegen-friendly expression shapes in the hot path"). */
  def lshBucketCol(emb: Column, bits: Int): Column =
    org.apache.spark.sql.graft.VectorFunctions.signBits(emb, 0, bits)

  /** Table-t bucket id (hyperplanes t·bits … t·bits+bits−1) — the
    * [[lshNearDupPairs]] multi-table family, exposed so the streaming
    * ingest twin computes the SAME bucket keys map-side. */
  def lshTableBucketCol(emb: Column, t: Int, bits: Int): Column =
    org.apache.spark.sql.graft.VectorFunctions.signBits(emb, t * bits, bits)

  /** Corpus annotated with its LSH bucket. */
  def withLshBucket(corpus: DataFrame, bits: Int = 8): DataFrame =
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      .where(dimGuard(col("embedding")))
      .withColumn("bucket", lshBucketCol(col("embedding"), bits))

  /**
   * LSH BUCKET-SIZE histogram — the empirical check behind
   * [[MaxPairBucket]] and [[deriveLshBits]]: (bucket size → number of
   * buckets) for a hyperplane bucketing of the corpus. A heavy tail
   * here IS the straggler forecast for every bucket-join in the ANN
   * tier (candidate volume per bucket is size², so the largest bucket
   * dominates) — read it before picking `bits`, and compare two bits
   * settings by running it twice.
   *
   * Scale shape: one map-only bucket assignment + two bounded
   * aggregates (≤ 2^bits buckets). Pure integers.
   *
   * @return (bucket_size, n_buckets)
   */
  def lshBucketHistogram(corpus: DataFrame, bits: Int = 8): DataFrame =
    withLshBucket(corpus, bits)
      .groupBy(col("bucket")).agg(count(lit(1)).as("bucket_size"))
      .groupBy(col("bucket_size")).agg(count(lit(1)).as("n_buckets"))

  /**
   * LSH-bucketed near-dup pairs — the scale path for `nearDupPairs`:
   * `tables` independent hyperplane tables of `bits` bits each (table t,
   * bit i uses hyperplane t·bits + i); candidate pairs share at least one
   * table's bucket, then an exact cosine ≥ threshold re-rank verifies.
   * Recall for a pair at cosine s is 1 − (1 − p^bits)^tables with
   * p = 1 − acos(s)/π — the multi-table OR keeps recall high for true
   * near-dups while never forming the O(n²) pair space: each table's
   * self-join shuffles on (t, bucket) and costs O(Σ bucket²).
   *
   * `bits` SIZES ITSELF WITH THE CORPUS by default (`AutoBits`): the
   * measured cliff (BASELINE.md: bits=4 at 20k vectors ⇒ ~100 M
   * candidates / 110 s, bits=8 ⇒ 14.5 s with recall intact) is a sizing
   * rule, so it lives in code, not scaladoc — `deriveLshBits` picks
   * 2^bits ≈ n/100 from a cheap count of the already-persisted corpus
   * frame (the count doubles as the cache warm-up, so it costs nothing
   * extra). Pass an explicit `bits` only to pin a contract.
   */
  def lshNearDupPairs(
      corpus: DataFrame,
      threshold: Double,
      bits: Int = AutoBits,
      tables: Int = 4,
      maxBucketSize: Int = MaxPairBucket): DataFrame = {
    val e = graft.Caching.persist(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
        .where(dimGuard(col("emb")))
        .withColumn("nrm", sqrt(dot(col("emb"), col("emb")))))
    val resolvedBits = if (bits == AutoBits) deriveLshBits(e.count()) else bits
    // r14: the per-bit when(dot > 0, 1<<i) chain over typedLit sign rows
    // shipped tables × bits × 1024 literal doubles in the plan (the same
    // bloat SignBits removed from lshBucketCol in r13) — one SignBits
    // expression per table is bit-identical (same FMA order, same strict
    // > 0) with the matrix as JVM state, not plan state (guide §4).
    val bucketStructs = (0 until tables).map { t =>
      struct(
        lit(t.toLong).as("t"),
        org.apache.spark.sql.graft.VectorFunctions
          .signBits(col("emb"), t * resolvedBits, resolvedBits).as("bucket"))
    }
    val tb = e.select(col("vec_id"), explode(array(bucketStructs: _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    // Hot-bucket guard (same rationale as Dedup.MaxPairBucket): a bucket
    // of m vectors costs O(m²) in the pair join, so degenerate buckets
    // are excluded rather than allowed to become the stage's straggler;
    // the skip is a plan metric, and the oracle mirrors the bound.
    val ok = tb.groupBy(col("t"), col("bucket")).agg(count(lit(1)).as("bucket_n"))
      .observe(s"graft_emb_bucket_guard_${obsId.incrementAndGet()}",
        sum(when(col("bucket_n") > maxBucketSize, lit(1L)).otherwise(lit(0L)))
          .as("skipped_buckets"),
        sum(when(col("bucket_n") > maxBucketSize, col("bucket_n")).otherwise(lit(0L)))
          .as("skipped_rows"))
      .where(col("bucket_n") <= maxBucketSize)
      .select(col("t"), col("bucket"))
    val bounded = tb.join(ok, Seq("t", "bucket"))
    val cand = bounded.select(col("vec_id").as("d1"), col("t"), col("bucket"))
      .join(bounded.select(col("vec_id").as("d2"), col("t"), col("bucket")), Seq("t", "bucket"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
    val v1 = e.select(col("vec_id").as("d1"), col("emb").as("e1"), col("nrm").as("n1"))
    val v2 = e.select(col("vec_id").as("d2"), col("emb").as("e2"), col("nrm").as("n2"))
    cand.join(v1, "d1").join(v2, "d2")
      .withColumn("cos", round(dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
      .where(col("cos") >= threshold)
      .select(col("d1"), col("d2"), col("cos"))
  }

  /**
   * IVF (inverted-file) approximate top-k — the coarse-quantizer scale
   * path. Centroids are a deterministic corpus sample (vec_id ≡ 0 mod
   * `stride` — no RNG, no trained model, so the cell layout is
   * reproducible across engines); every vector joins the broadcast
   * centroid set once and keeps its max-cosine centroid as its cell (a
   * partial-aggregated argmax — one map-only pass plus a ~1-row-per-vec
   * shuffle, never a window over the n×k cross). Queries probe their
   * `nProbe` nearest cells and exact-cosine re-rank only those cells'
   * members, cutting the scan to ~nProbe/k of the corpus.
   */
  /** (vec_id, emb, nrm[, metaCols…]) with double-cast embedding and
    * materialized norm. */
  private def normed(df: DataFrame, metaCols: Seq[String] = Nil): DataFrame =
    df.select(col("vec_id") +: asDouble(col("embedding")).as("emb") +:
        metaCols.map(col): _*)
      .withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))

  /** Deterministic IVF coarse quantizer: every stride-th vector is a
    * centroid (cent_id, c_emb, c_nrm). */
  private def ivfCentroids(n: DataFrame, stride: Int): DataFrame =
    n.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("cent_id"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))

  /** Argmax-centroid cell per vector (ties to the smallest cent_id) —
    * the ONE assignment definition shared by the direct path and the
    * materialized index, so index probes reproduce `ivfCosineTopK`
    * bit-for-bit. */
  private def ivfAssign(
      n: DataFrame, cents: DataFrame, metaCols: Seq[String] = Nil): DataFrame = {
    val aggs = first(col("nrm")).as("nrm") +:
      max_by(col("cent_id"), struct(col("ccos"), -col("cent_id"))).as("cell") +:
      metaCols.map(m => first(col(m)).as(m))
    n.crossJoin(broadcast(cents))
      .withColumn("ccos", dot(col("emb"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .groupBy(col("vec_id"))
      .agg(first(col("emb")).as("emb"), aggs: _*)
  }

  /** Top-nProbe cells per query + the query vector/norm carried along. */
  private def ivfProbes(
      queries: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_vec_id"),
        asDouble(col("embedding")).as("q_emb"))
      .withColumn("q_nrm", sqrt(dot(col("q_emb"), col("q_emb"))))
    val wProbe = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    q.crossJoin(broadcast(cents))
      .withColumn("ccos", dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nProbe)
      .select(col("q_vec_id"), col("q_emb"), col("q_nrm"), col("cent_id").as("cell"))
  }

  /** Exact cosine re-rank of cell-matched candidates to top-k. */
  private def ivfRerank(
      assign: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assign.join(broadcast(probes), Seq("cell"))
      .where(col("q_vec_id") =!= col("vec_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_vec_id"), col("vec_id").as("n_vec_id"), col("cos"), col("rank"))
  }

  def ivfCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      stride: Int = 100,
      nProbe: Int = 2): DataFrame = {
    val n = normed(corpus)
    val cents = ivfCentroids(n, stride)
    ivfRerank(ivfAssign(n, cents), ivfProbes(queries, cents, nProbe), k)
  }

  /**
   * MATERIALIZED IVF index — the `Search.buildIndex` recipe for the ANN
   * tier: cell assignments written Hive-partitioned BY CELL (one
   * directory per inverted list) plus the centroid table, so a probe
   * touches only nProbe of the ~n/stride cell directories instead of
   * re-deriving assignments over the whole corpus per query batch. At
   * 100 TB the index is built once per ingest and each query batch
   * reads a few lists — the file layout IS the index.
   */
  /** @param metaCols filterable metadata columns (label, source, …)
    *        stored BESIDE the vector in the cell files — the layout
    *        that lets [[searchAnnIndexedFiltered]] push its predicate
    *        into the partitioned scan instead of joining metadata in
    *        at probe time. */
  def buildAnnIndex(
      corpus: DataFrame,
      path: String,
      stride: Int = 100,
      metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    // ID-REUSE GUARD: a pending tombstone names a row of the index this
    // rebuild replaces. A rebuild input that CARRIES one of those ids is
    // ambiguous — the caller deleted the id and now supplies it again —
    // and clearing the tombstone set below would silently resurrect the
    // deleted row under the reused id. Loud beats silent: fold the
    // pending deletes first (compactAnnIndex) so the rebuild starts from
    // an empty tombstone set, or wipe the index path if this is an
    // intentional from-scratch build over a re-keyed corpus.
    val pendingTombs = resolvedIndex(spark, path)._2
    if (pathExists(spark, pendingTombs)) {
      val reused = corpus.select(col("vec_id"))
        .join(broadcast(spark.read.parquet(pendingTombs).distinct()),
          Seq("vec_id"), "left_semi").limit(1).collect()
      require(reused.isEmpty,
        s"buildAnnIndex: rebuild input reuses pending-tombstoned vec_id " +
          s"${reused.head.getLong(0)} — clearing tombstones would silently " +
          "resurrect a deleted row under the reused id; run " +
          "compactAnnIndex(path) to fold the deletes first, or wipe the " +
          "index path for an intentional from-scratch rebuild")
    }
    val n = normed(corpus, metaCols)
    val cents = ivfCentroids(n, stride)
    // repartition BY CELL before the partitioned write: without it every
    // shuffle task writes a sliver into every cell directory (tasks ×
    // cells small files — 15k files for a 90k-row index, measured), and
    // every later scan/serve-build pays the footer storm; with it each
    // inverted list is ONE file — the locality the probe reads
    ivfAssign(n, cents, metaCols)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    // the rebuilt lists live at `cells` (generation 0) again: retire
    // every compacted generation, its commit marker, and its tombstone
    // set — a (guarded — above) rebuild supersedes any pending deletes
    clearGenerations(spark, path)
    deletePath(spark, s"$path/tombstones")
  }

  /**
   * INCREMENTAL index append — the ANN tier's daily-ingest bookend
   * (the dedup/vocab/split/prep tiers all have delta twins; this is
   * the index's): new vectors are assigned with the index's PERSISTED
   * centroids — the quantizer is frozen at build time, never re-derived
   * from delta — and appended into the existing cell directories. No
   * history row is read or rewritten (the append touches only the
   * ~|delta| new files), cell ids stay stable, and a subsequent
   * [[searchAnnIndexed]] over the grown index equals [[ivfCosineTopK]]
   * over the union corpus with the same frozen centroid set — the
   * q100 oracle contract. At 100 TB this is the difference between an
   * O(|delta|) ingest and an O(|corpus|) rebuild per batch. Appends
   * land in the CURRENT committed generation ([[compactAnnIndex]]'s
   * version pointer) and REFUSE ids the tombstone set still names —
   * see the re-insert guard below.
   */
  def appendAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame,
      path: String): Unit = {
    val (dir, tombsAt) = resolvedIndex(spark, path)
    requireNoTombstoneClash(spark, delta, tombsAt, "appendAnnIndex")
    assignedDelta(spark, delta, path, dir)
      .repartition(col("cell")) // one file per touched cell, not tasks×cells
      .write.mode("append").partitionBy("cell").parquet(dir)
  }

  /** RE-INSERT GUARD (tombstones are id-keyed): an appended row whose
    * id is currently tombstoned would land in the lists and STILL be
    * anti-joined away by every probe — a silently invisible live row,
    * and a later compaction would physically drop it while clearing
    * the tombstone. Loud beats silent: re-inserting a deleted id needs
    * the delete folded first (compactAnnIndex) so the tombstone set no
    * longer names it. The check probes the delta against the
    * broadcast tombstone set and stops at the first clash. */
  private def requireNoTombstoneClash(
      spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame,
      tombsAt: String,
      op: String): Unit = {
    if (!pathExists(spark, tombsAt)) return
    val clash = delta.select(col("vec_id"))
      .join(broadcast(spark.read.parquet(tombsAt).distinct()),
        Seq("vec_id"), "left_semi").limit(1).collect()
    require(clash.isEmpty,
      s"$op: vec_id ${clash.headOption.map(_.getLong(0)).getOrElse(-1L)} is " +
        "pending-tombstoned — a row appended under a tombstoned id is " +
        "invisible to every search and would be physically dropped by " +
        "the next compaction; run compactAnnIndex(path) to fold the " +
        "pending deletes before re-inserting the id")
  }

  /** The delta's cell assignments under the index's FROZEN centroids
    * and PERSISTED metadata layout — shared by [[appendAnnIndex]] and
    * [[appendAnnIndexIdempotent]]. Metadata layout is a property of
    * the INDEX, not the call: the stored meta columns derive from the
    * persisted schema so appends can never silently drop (or add)
    * columns the build chose. */
  private def assignedDelta(
      spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame,
      path: String,
      dir: String): DataFrame = {
    val cents = graft.sources.Corpus.parquet(spark, resolvedCentroids(spark, path))
    // a plain read: every append adds files to the cells dir, so a
    // listing-keyed schema memo would never hit here
    val metaCols = spark.read.parquet(dir).columns.toSeq
      .filterNot(Set("vec_id", "emb", "nrm", "cell"))
    ivfAssign(normed(delta, metaCols), cents, metaCols)
  }

  /**
   * IDEMPOTENT, batch-keyed [[appendAnnIndex]] — the sink-side append
   * for at-least-once runtimes (Structured Streaming's `foreachBatch`
   * replays a failed batch with the SAME id and rows, and a crashed
   * append may have landed any prefix of its files). Replay safety is
   * STRUCTURAL, not marker-trust:
   *
   *  1. an `applied` marker short-circuits a replay of a batch that
   *     fully committed (the common case — no work re-done);
   *  2. without the marker, every cell file whose name carries this
   *     batch's key prefix is REMOVED first (a crashed attempt's
   *     partial landing — names are deterministic, so the sweep finds
   *     exactly its own litter);
   *  3. the delta is staged to a batch-scoped `_`-prefixed directory
   *     (invisible to every parquet reader; `overwrite` makes the
   *     stage itself idempotent), then each staged file is RENAMED
   *     into its cell directory under the batch-key prefix — per-file
   *     atomic moves, no partial file is ever visible;
   *  4. the marker is created LAST; a crash anywhere re-runs safely.
   *
   * A compaction racing this append moves the committed generation;
   * the final generation check fails LOUDLY naming the recovery
   * (re-run the batch — it lands in the new generation), the
   * compaction-side mirror of [[compactAnnIndexWithHook]]'s
   * cell-file-count guard. Cost: O(delta) plus one cell-dir listing —
   * the same metadata class as the parquet commit protocol itself.
   */
  def appendAnnIndexIdempotent(
      spark: org.apache.spark.sql.SparkSession,
      delta: DataFrame,
      path: String,
      batchKey: String): Unit = {
    require(batchKey.nonEmpty && batchKey.matches("[A-Za-z0-9][A-Za-z0-9_-]*"),
      s"batchKey must be a non-hidden file-name-safe token, got '$batchKey'")
    val fs = hadoopFs(spark, path)
    val marker = new org.apache.hadoop.fs.Path(
      s"$path/_ingest_applied/$batchKey")
    if (fs.exists(marker)) return
    val genBefore = committedGeneration(spark, path)
    val (dir, tombsAt) = resolvedIndex(spark, path)
    // sweep a crashed attempt's partial landing: exactly the files
    // this batch's prefix names, nothing else
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val it = fs.listFiles(dirPath, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith(s"${batchKey}_"))
        require(fs.delete(f.getPath, false),
          s"could not remove crashed-append litter ${f.getPath}")
    }
    requireNoTombstoneClash(spark, delta, tombsAt, "appendAnnIndexIdempotent")
    val staging = s"$path/_ingest_staging_$batchKey"
    assignedDelta(spark, delta, path, dir)
      .repartition(col("cell")) // one file per touched cell, not tasks×cells
      .write.mode("overwrite").partitionBy("cell").parquet(staging)
    // per-file atomic renames under the batch-key prefix
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    fs.listStatus(stagingPath).filter(_.isDirectory).foreach { cellDir =>
      val destDir = new org.apache.hadoop.fs.Path(dir, cellDir.getPath.getName)
      if (!fs.exists(destDir))
        require(fs.mkdirs(destDir), s"could not create cell dir $destDir")
      fs.listStatus(cellDir.getPath)
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .foreach { f =>
          val dest = new org.apache.hadoop.fs.Path(destDir,
            s"${batchKey}_${f.getPath.getName}")
          require(fs.rename(f.getPath, dest),
            s"could not move staged append file ${f.getPath} to $dest")
        }
    }
    require(fs.delete(stagingPath, true),
      s"could not remove append staging dir $staging")
    val genAfter = committedGeneration(spark, path)
    if (genAfter != genBefore)
      throw new IllegalStateException(
        s"appendAnnIndexIdempotent($path, $batchKey): a compaction raced " +
          s"this append (generation $genBefore -> $genAfter) — the batch's " +
          "files landed in the superseded generation, which probes no " +
          "longer read; re-run the batch (it is replay-safe and will land " +
          "in the new generation)")
    if (!fs.exists(marker.getParent))
      require(fs.mkdirs(marker.getParent),
        s"could not create marker dir ${marker.getParent}")
    require(fs.createNewFile(marker),
      s"could not create applied marker $marker")
  }

  /**
   * Probe a [[buildAnnIndex]] layout: queries pick their nProbe cells
   * against the (broadcast) persisted centroids, and the cell join
   * against the partitioned scan prunes to those directories via
   * DYNAMIC partition pruning (the probe side is a runtime value, so
   * planning-time pruning cannot apply — the DPP subquery filter on the
   * scan is asserted in SimilaritySpec). Results are bit-identical to
   * [[ivfCosineTopK]] (same assignment/probe/re-rank definitions —
   * q82's oracle is q26's SQL verbatim, the index-roundtrip contract).
   */
  def searchAnnIndexed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 2): DataFrame = {
    val (cellsAt, tombsAt) = resolvedIndex(spark, path)
    val raw = spark.read.parquet(cellsAt)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell").cast("long"))
    // Deletes are honored at probe time: rows named by the tombstone set
    // never reach the re-rank (see deleteFromAnnIndex). The anti-join is
    // broadcast — a tombstone set is |deletes-since-compaction| ids, kept
    // small by compacting when the deleted fraction grows.
    val assign =
      if (pathExists(spark, tombsAt))
        raw.join(broadcast(spark.read.parquet(tombsAt)),
          Seq("vec_id"), "left_anti")
      else raw
    val cents = spark.read.parquet(resolvedCentroids(spark, path))
    ivfRerank(assign, ivfProbes(queries, cents, nProbe), k)
  }

  /**
   * FILTERED probe of a [[buildAnnIndex]] layout — the materialized
   * twin of [[ivfCosineTopKFiltered]]: the predicate evaluates over
   * metadata columns the build stored BESIDE the vectors
   * (`buildAnnIndex(…, metaCols = Seq("label"))`), so it lands in the
   * cell-file scan as a pushed parquet filter (PushedFilters — pinned
   * in SimilaritySpec) instead of a metadata join at probe time. At
   * 100 TB the probe reads nProbe cell directories AND row-group-skips
   * within them by the predicate's min/max stats — the two prunings
   * compose. Same frozen definitions as every other probe path:
   * results equal the direct filtered search over the same corpus
   * (q222c shares q222's oracle verbatim). Tombstones are honored
   * before the re-rank like [[searchAnnIndexed]].
   */
  def searchAnnIndexedFiltered(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      filter: Column,
      k: Int,
      nProbe: Int = 2): DataFrame = {
    val (cellsAt, tombsAt) = resolvedIndex(spark, path)
    val raw = spark.read.parquet(cellsAt)
      .where(filter)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cell").cast("long"))
    val assign =
      if (pathExists(spark, tombsAt))
        raw.join(broadcast(spark.read.parquet(tombsAt)),
          Seq("vec_id"), "left_anti")
      else raw
    val cents = spark.read.parquet(resolvedCentroids(spark, path))
    ivfRerank(assign, ivfProbes(queries, cents, nProbe), k)
  }

  /**
   * DELETE from a [[buildAnnIndex]] layout — the index-maintenance
   * bookend [[appendAnnIndex]] leaves open (append grows lists in
   * O(|delta|); this shrinks them in O(|deletes|)): deleted vec_ids are
   * appended to a TOMBSTONE set beside the lists, and every subsequent
   * [[searchAnnIndexed]] anti-joins candidates against it before the
   * re-rank. No cell file is read or rewritten — at 100 TB a delete is
   * a metadata write, not an O(|corpus|) list rewrite.
   *
   * FROZEN-QUANTIZER SEMANTICS (the q100 contract's delete mirror):
   * deleting a vector removes it as a CANDIDATE but never unseats the
   * centroid derived from it — cell ids, assignments, and probe order
   * are build-time constants, so search-after-delete equals the direct
   * IVF search over (corpus ∖ deletes) with the ORIGINAL centroid set
   * (q223's oracle). Tombstones accumulate until [[compactAnnIndex]]
   * folds them into the lists (the set is GENERATION-SCOPED — it flips
   * atomically with the lists under the same commit marker); a
   * [[buildAnnIndex]] rebuild clears them after the id-reuse guard.
   */
  def deleteFromAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      deletes: DataFrame,
      path: String): Unit =
    deletes.select(col("vec_id"))
      .write.mode("append").parquet(resolvedIndex(spark, path)._2)

  /**
   * COMPACT a tombstoned [[buildAnnIndex]] layout: rewrite the cell
   * lists without the tombstoned rows and clear the tombstone set —
   * the explicit O(|corpus|) pass that keeps the probe-time anti-join
   * small. Run it when |tombstones|/|corpus| crosses a policy bound
   * (it is a cost decision, so the trigger stays with the caller).
   * Answer-invariant BY CONSTRUCTION — searches read (lists ∖
   * tombstones) either way — and pinned by q223b sharing q223's
   * oracle.
   *
   * ATOMIC GENERATION SWAP (one level of indirection — the
   * `Chunking.writeTrainingShards` manifest idea applied to the cell
   * lists): the compacted lists land in a fresh generation directory
   * (`cells_v{N}`), and the swap is ONE atomic marker-file creation
   * (`COMMIT_v{N}`) — every plan constructed after the marker exists
   * resolves the new generation ([[cellsDir]]), every plan constructed
   * before it keeps scanning the old one, and at no instant does a
   * resolver find zero committed generations (the rename-pair race of
   * the previous layout, closed). The PREVIOUS generation is retained
   * one compaction cycle so in-flight scans that resolved it finish
   * (bounded retention, the table-format vacuum analogy); generations
   * older than that retire here. Crash safety is positional: a crash
   * before the marker leaves an UNCOMMITTED generation dir the next
   * compaction removes and redoes; a crash after the marker but before
   * the tombstone clear just re-folds an already-folded set (a no-op
   * anti-join). Every FS mutation is require-checked — Hadoop
   * delete/create report failure by RETURN VALUE.
   */
  def compactAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    compactAnnIndexWithHook(spark, path, () => ())

  /** [[compactAnnIndex]] with a pre-commit seam — invoked after the
    * staged generation is fully written but BEFORE the marker flips the
    * version pointer. Exists so the maintenance-race drift check below
    * is TESTABLE (SimilaritySpec injects a racing delete/append into
    * the exact window it guards); production callers use the no-op
    * public form. */
  private[graft] def compactAnnIndexWithHook(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      preCommitHook: () => Unit): Unit =
    swapGeneration(spark, path, "compactAnnIndex",
      requireTombstones = true, preCommitHook,
      stage = (live, next) =>
        live.repartition(col("cell")) // one file per cell, not tasks×cells
          .write.mode("overwrite").partitionBy("cell")
          .parquet(generationDir(path, next)))

  /**
   * RE-TRAIN the coarse quantizer — the lifecycle step every other
   * operator froze by contract: [[appendAnnIndex]] never re-derives
   * centroids (the q100 frozen-quantizer semantics), so a corpus that
   * grows far past its build develops hot cells ([[annIndexStats]]'s
   * list-skew read — probe latency IS the hottest probed list). This
   * is the explicit O(live) response: derive FRESH centroids from the
   * current live rows (the same deterministic every-stride-th-vector
   * rule as [[buildAnnIndex]] — retrain ≡ a fresh build on the live
   * rows, the q236 oracle contract), re-assign every live row, and
   * commit lists + quantizer with the compaction machinery's ONE
   * atomic marker: the new `centroids_v{N}` binds to generation N, and
   * every reader resolves the pair ([[resolvedCentroids]]) so plans
   * constructed before the marker keep the quantizer their cells were
   * assigned with. Pending tombstones fold as a side effect (the live
   * snapshot is lists ∖ tombstones); metadata columns ride through
   * unchanged, so filtered probes keep working. Serve artifacts built
   * before the retrain drift by generation — `requireServeStateCurrent`
   * fails loudly and `maintainAnnIndexServing` rebuilds them with the
   * new quantizer. Like compaction, the trigger is a COST decision
   * that stays with the caller (watch max/median `n_live` skew in
   * [[annIndexStats]]); racing deletes/appends reconcile exactly as in
   * [[compactAnnIndex]] — same narrowed window, same loud append
   * failure naming the re-run recovery.
   */
  def retrainAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      stride: Int = 100): Unit = {
    require(stride > 0, s"stride must be positive, got $stride")
    swapGeneration(spark, path, "retrainAnnIndex",
      requireTombstones = false, () => (),
      stage = (live, next) => {
        val metaCols = live.columns.toSeq
          .filterNot(Set("vec_id", "emb", "nrm", "cell"))
        val n = live.select(col("vec_id") +: col("emb") +: col("nrm") +:
          metaCols.map(col): _*)
        val cents = ivfCentroids(n, stride)
        ivfAssign(n, cents, metaCols)
          .repartition(col("cell")) // one file per cell, not tasks×cells
          .write.mode("overwrite").partitionBy("cell")
          .parquet(generationDir(path, next))
        // the quantizer commits WITH its generation: written before the
        // marker, resolved only once the marker names generation `next`
        cents.write.mode("overwrite").parquet(centroidsPath(path, next))
      })
  }

  /** The shared ATOMIC GENERATION SWAP — heal, snapshot, stage, commit,
    * reconcile, retire — extracted from the compaction so
    * [[retrainAnnIndex]] rides the exact same crash/race machinery
    * instead of a divergent copy. `stage(live, next)` writes
    * `generationDir(path, next)` (plus any version-bound extras, e.g.
    * the retrain's centroids); everything around it is invariant. */
  private def swapGeneration(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      op: String,
      requireTombstones: Boolean,
      preCommitHook: () => Unit,
      stage: (DataFrame, Int) => Unit): Unit = {
    val fs = hadoopFs(spark, path)
    val cur = cellsGeneration(spark, path).getOrElse(0)
    val next = cur + 1
    // heal: a generation dir WITHOUT its commit marker is a crashed
    // swap's partial write — remove it (and any quantizer version it
    // staged: left behind, a later swap reusing the number would bind
    // the stale quantizer to freshly assigned lists) and redo from the
    // last committed generation (its tombstone set was never retired,
    // so the redo sees the full pending-delete set)
    uncommittedGenerations(spark, path).foreach { g =>
      require(fs.delete(new org.apache.hadoop.fs.Path(s"$path/cells_v$g"), true),
        s"could not remove uncommitted generation $path/cells_v$g " +
          "(a crashed compaction/retrain's partial write)")
      deletePath(spark, s"$path/centroids_v$g")
    }
    // heal, part two — BEFORE the no-work early return, so EVERY
    // compaction call converges the layout, not just ones with pending
    // tombstones: a crash after a previous cycle's marker but before
    // its retirement strands generations older than the retained one
    // (lists + markers + folded tombstone sets) on disk indefinitely.
    // Retention policy unchanged: the immediately-previous generation
    // (cur − 1) stays one cycle; vacuumAnnIndex reclaims it early.
    retireGenerationsBelow(spark, path, cur - 1)
    if (requireTombstones && !pathExists(spark, tombstonesPath(path, cur)))
      return
    // PRE-SNAPSHOT coordinates (the serveSnapshotMeta trick): a delete
    // or append racing this compaction between the `live` snapshot and
    // the COMMIT marker lands in the SUPERSEDED generation — the
    // tombstone would be retired next cycle without ever being folded
    // (a deleted row silently resurrects) and appended files would
    // miss the new generation (an appended row silently vanishes).
    // Capture the superseded generation's tombstone FILE LIST (so the
    // post-commit diff can read exactly the late files and carry only
    // the late ids) and its cell-file count now; re-read after the
    // marker and reconcile. NOTE the reconciliation below NARROWS the
    // race window to [post-read, retirement] but does not close it —
    // a delete/append whose parquet write lands after the post-commit
    // re-reads is still lost; maintenance ops that need a hard
    // guarantee must serialize deletes/appends against compactions.
    val preTombFiles = listParquetFiles(fs, tombstonesPath(path, cur))
    val preFiles = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(generationDir(path, cur))).getFileCount
    val raw = spark.read.parquet(generationDir(path, cur))
    val live =
      if (pathExists(spark, tombstonesPath(path, cur)))
        raw.join(broadcast(spark.read.parquet(tombstonesPath(path, cur))),
          Seq("vec_id"), "left_anti")
      else raw
    stage(live, next)
    // EMPTY-FOLD GUARD: a zero-row partitioned write leaves a dir with
    // no data files and no schema footer — committing it would make
    // every later read CRASH on schema inference instead of failing
    // loudly here. An index whose every row is tombstoned has nothing
    // left to serve; wiping and rebuilding is the honest operation.
    // (One dir listing — the staging write is O(live) anyway.)
    if (!fs.listStatus(new org.apache.hadoop.fs.Path(generationDir(path, next)))
        .exists(_.isDirectory)) {
      require(fs.delete(
          new org.apache.hadoop.fs.Path(generationDir(path, next)), true),
        s"could not remove empty staging generation ${generationDir(path, next)}")
      deletePath(spark, s"$path/centroids_v$next")
      throw new IllegalArgumentException(
        s"$op: folding the tombstones would leave ZERO live " +
          s"rows — the entire index at $path is tombstoned; wipe the index " +
          "path and rebuild instead of compacting to empty")
    }
    preCommitHook()
    // THE COMMIT: one atomic file creation flips every future plan to
    // the new generation — and, because the tombstone set is
    // GENERATION-SCOPED, to the (empty) folded tombstone set in the
    // same instant: a reader resolves (cells_v{N}, tombstones_g{N}) as
    // a pair, so no ordering of a separate tombstone delete can strand
    // it.
    require(fs.createNewFile(
        new org.apache.hadoop.fs.Path(s"$path/COMMIT_v$next")),
      s"could not commit generation $next of $path (marker exists?)")
    // POST-COMMIT drift reconciliation against the pre-snapshot
    // coordinates. Late DELETES (new tombstone files appeared): carry
    // ONLY the late ids forward into tombstones_g{next} — the late
    // files anti-joined against the folded (pre-snapshot) set, NOT the
    // whole superseded set: copying already-folded ids would make
    // appendAnnIndex's re-insert guard and buildAnnIndex's reuse guard
    // refuse ids that were legitimately deleted-and-folded (the q226
    // delete→compact→re-insert contract) and would perturb the
    // n_tombstones serve coordinate for ids no probe needs to fold.
    // Runs before the append check so a doubly-raced call loses
    // neither. File-list diff, so a racing duplicate delete of an
    // already-folded id correctly carries nothing.
    val postTombFiles = listParquetFiles(fs, tombstonesPath(path, cur))
    val lateTombFiles = postTombFiles.filterNot(preTombFiles.toSet)
    if (lateTombFiles.nonEmpty) {
      val late = spark.read.parquet(lateTombFiles: _*).distinct()
      val carried =
        if (preTombFiles.isEmpty) late
        else late.join(
          broadcast(spark.read.parquet(preTombFiles: _*).distinct()),
          Seq("vec_id"), "left_anti")
      carried.write.mode("append").parquet(tombstonesPath(path, next))
    }
    // Late APPENDS (cell-file count moved): the appended files sit in
    // the superseded generation only — every probe of the committed
    // generation misses them. They cannot be folded forward here (the
    // rows carry no marker distinguishing them from compacted-away
    // duplicates), so fail LOUDLY naming the recovery: the superseded
    // generation is retained one cycle, and appendAnnIndex now resolves
    // the NEW generation, so re-running the append lands the delta
    // where probes read.
    val postFiles = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(generationDir(path, cur))).getFileCount
    if (postFiles != preFiles)
      throw new IllegalStateException(
        s"$op($path): an appendAnnIndex raced this generation swap " +
          s"— the superseded generation's cell-file count moved " +
          s"($preFiles -> $postFiles) after the live snapshot, so the " +
          s"appended rows are MISSING from committed generation $next; " +
          "re-run appendAnnIndex for that delta (it now lands in the new " +
          "generation). The superseded lists are retained one cycle at " +
          generationDir(path, cur))
    // bounded retention: the immediately-previous generation (lists AND
    // its folded tombstone set) stays one cycle so in-flight scans that
    // resolved it finish; everything older retires now (marker first,
    // then dir, so no marker ever points at a missing dir); generations
    // already retired by earlier cycles are skipped. vacuumAnnIndex
    // reclaims the retained one early once in-flight scans drain.
    retireGenerationsBelow(spark, path, cur)
  }

  /**
   * GENERATIONS audit — the version-pointer mechanism's observability
   * read (the [[annIndexStats]] convention for the file layout): one
   * row per on-disk generation of the index with its commit status,
   * whether it is the CURRENT resolution target, its file/byte
   * footprint, and whether a tombstone set rides with it. The two
   * production reads: VACUUM DEBT (committed non-current rows — the
   * one generation [[compactAnnIndex]] retains for in-flight scans,
   * reclaimable early via [[vacuumAnnIndex]] once those drain) and
   * CRASH LITTER (uncommitted rows — a died compaction's partial
   * write, removed by the next compaction or vacuum). Driver-side FS
   * walk, bounded BY CONSTRUCTION: retention keeps ≤ 2 committed
   * generations plus any crash litter.
   */
  def annIndexGenerations(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val fs = hadoopFs(spark, path)
    val cur = cellsGeneration(spark, path).getOrElse(0)
    def footprint(p: String): (Long, Long) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      if (!fs.exists(hp)) (0L, 0L)
      else {
        val s = fs.getContentSummary(hp)
        (s.getFileCount, s.getLength)
      }
    }
    val base = new org.apache.hadoop.fs.Path(path)
    val names =
      if (fs.exists(base)) fs.listStatus(base).toSeq.map(_.getPath.getName)
      else Nil
    val gens = (names.collect { case CellsDirName(n) => n.toInt } ++
      (if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/cells"))) Seq(0)
       else Nil)).distinct.sorted
    val markers = names.collect { case CommitMarkerName(n) => n.toInt }.toSet
    import spark.implicits._
    gens.map { g =>
      val (nf, bytes) = footprint(generationDir(path, g))
      // generation 0 is the build itself — committed by construction
      (g.toLong, g == 0 || markers(g), g == cur, nf, bytes,
        pathExists(spark, tombstonesPath(path, g)))
    }.toDF("generation", "committed", "current", "n_files", "bytes",
      "has_tombstones")
  }

  /**
   * VACUUM — reclaim every generation below the current one, the
   * RETAINED previous generation included (plus any uncommitted crash
   * litter). [[compactAnnIndex]] already retires generations older
   * than its retention window, so vacuum's one extra power is freeing
   * the retained generation EARLY — run it only after scans that
   * resolved plans before the last compaction have drained (the same
   * drain contract the retention window exists to cover).
   * Quantizer versions a [[retrainAnnIndex]] superseded (no
   * generation a reader can still resolve uses them) are reclaimed
   * here too, under the same drain contract as the retained lists —
   * a retained pre-retrain generation still resolves its OWN centroids
   * until this call, so vacuum only removes versions strictly below
   * the one the CURRENT generation resolves. The current
   * generation, its tombstone set, and its resolved centroids are never
   * touched; every delete is require-checked.
   */
  def vacuumAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val fs = hadoopFs(spark, path)
    val cur = cellsGeneration(spark, path).getOrElse(0)
    uncommittedGenerations(spark, path).foreach { g =>
      require(fs.delete(new org.apache.hadoop.fs.Path(s"$path/cells_v$g"), true),
        s"could not remove uncommitted generation $path/cells_v$g")
      // a crashed retrain's partial quantizer dies with its generation —
      // left behind, a LATER swap reusing the number would silently
      // bind the stale quantizer to freshly assigned lists
      deletePath(spark, s"$path/centroids_v$g")
    }
    retireGenerationsBelow(spark, path, cur)
    // quantizer versions superseded for EVERY generation a reader can
    // still resolve (≤ the version the retained generation uses) are
    // reclaimable here — same drain contract as the retained lists
    val keep = (centroidVersions(spark, path).filter(_ <= cur) :+ 0).max
    centroidVersions(spark, path).filter(_ < keep).foreach { v =>
      deletePath(spark, s"$path/centroids_v$v")
    }
  }

  /**
   * ONE-CALL index MAINTENANCE — the ops loop the lifecycle pieces
   * left as prose until now ("run compaction when |tombstones|/|corpus|
   * crosses a policy bound" — [[compactAnnIndex]]'s scaladoc), promoted
   * to an operator the way every other radar in this repo was
   * (`deriveLshBits`, `dfAuto`, `BandAuto`): MEASURE the tombstone debt
   * from [[annIndexStats]] (one column-pruned scan of the current lists
   * + the broadcast anti-probe), COMPACT when debt exceeds
   * `maxDebtFrac` (which also heals crash litter and converges stale
   * generations — compaction does both on every call now), and VACUUM
   * when the caller asserts in-flight scans have drained
   * (`reclaimRetained = true`; drain is a deployment fact the engine
   * cannot observe, so it stays a caller assertion — the same contract
   * as calling [[vacuumAnnIndex]] directly).
   *
   * Returns a ONE-ROW REPORT (the data-card convention — metrics
   * emitted, not just a verdict): totals, measured debt vs the bound,
   * the actions taken, the generation window crossed, and
   * `serve_state_stale` — TRUE when a fold moved the snapshot
   * coordinates, i.e. every [[graft.streaming.StreamingOps
   * .annServeState]] / `annServePqState` artifact built before this
   * call must be rebuilt and redeployed (their streams fail loudly via
   * `requireServeStateCurrent` either way; the flag is the PROACTIVE
   * signal that closes the stats → compact → vacuum → serve-rebuild
   * loop). At 100 TB the measure is one metadata-light scan and the
   * fold runs only when the policy bound says the debt is worth an
   * O(live) rewrite.
   */
  def maintainAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxDebtFrac: Double = 0.2,
      reclaimRetained: Boolean = false): DataFrame = {
    require(maxDebtFrac >= 0.0 && maxDebtFrac < 1.0,
      s"maxDebtFrac must be in [0, 1), got $maxDebtFrac")
    val genBefore = committedGeneration(spark, path)
    val agg = annIndexStats(spark, path)
      .agg(coalesce(sum(col("n_vecs")), lit(0L)).as("v"),
        coalesce(sum(col("n_tombstoned")), lit(0L)).as("t")).head()
    val (nVecs, nTomb) = (agg.getLong(0), agg.getLong(1))
    val overBound = nVecs > 0 && nTomb.toDouble / nVecs > maxDebtFrac
    if (overBound) compactAnnIndex(spark, path)
    if (reclaimRetained) vacuumAnnIndex(spark, path)
    val genAfter = committedGeneration(spark, path)
    import spark.implicits._
    Seq((nVecs, nTomb, maxDebtFrac, overBound, reclaimRetained,
        genBefore.toLong, genAfter.toLong))
      .toDF("n_vecs", "n_tombstoned", "debt_bound", "compacted", "vacuumed",
        "generation_before", "generation_after")
      .withColumn("debt", when(col("n_vecs") === 0, lit(0.0))
        .otherwise(round(col("n_tombstoned") / col("n_vecs"), 6)))
      .withColumn("serve_state_stale", col("compacted"))
      .select(col("n_vecs"), col("n_tombstoned"), col("debt"),
        col("debt_bound"), col("compacted"), col("vacuumed"),
        col("generation_before"), col("generation_after"),
        col("serve_state_stale"))
  }

  /** Retire every generation below `bound` (marker, lists, tombstone
    * set) — shared by [[compactAnnIndex]]'s bounded retention and
    * [[vacuumAnnIndex]]. Generations already retired by earlier cycles
    * are skipped; deletes of present paths are require-checked. */
  private def retireGenerationsBelow(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      bound: Int): Unit = {
    val fs = hadoopFs(spark, path)
    def retire(p: String, recursive: Boolean): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(hp))
        require(fs.delete(hp, recursive), s"could not retire $p")
    }
    (0 until bound).foreach { g =>
      if (g > 0) retire(s"$path/COMMIT_v$g", recursive = false)
      retire(generationDir(path, g), recursive = true)
      retire(tombstonesPath(path, g), recursive = true)
    }
  }

  /** Committed cell-list generation of an index at `path`: the largest
    * N with a `COMMIT_v{N}` marker; None for a freshly built index
    * (lists at `cells`, no compaction yet). */
  private def cellsGeneration(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Int] = {
    val fs = hadoopFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(base)) None
    else {
      val ns = fs.listStatus(base).toSeq.map(_.getPath.getName)
        .collect { case CommitMarkerName(n) => n.toInt }
      if (ns.isEmpty) None else Some(ns.max)
    }
  }

  private val CommitMarkerName = "COMMIT_v(\\d+)".r

  /** Lists of generation `g`: the freshly built index is generation 0
    * at `cells`; each compaction writes the next `cells_v{N}`. */
  private def generationDir(path: String, g: Int): String =
    if (g == 0) s"$path/cells" else s"$path/cells_v$g"

  /** Tombstone set of generation `g` — GENERATION-SCOPED so
    * [[compactAnnIndex]]'s one marker creation atomically flips lists
    * and tombstones together (generation 0 keeps the plain
    * `tombstones` name). A fold therefore never deletes a set a
    * resolved plan still references; folded sets retire with their
    * generation's lists. */
  private def tombstonesPath(path: String, g: Int): String =
    if (g == 0) s"$path/tombstones" else s"$path/tombstones_g$g"

  /** Centroid table of quantizer VERSION `v` — version 0 is the build's
    * plain `centroids`; each [[retrainAnnIndex]] writes the next
    * `centroids_v{N}` bound to the generation it re-assigns, so the
    * marker that commits the generation atomically commits its
    * quantizer too. Compactions never bump the version: a generation's
    * centroids are the LARGEST version at or below it. */
  private def centroidsPath(path: String, v: Int): String =
    if (v == 0) s"$path/centroids" else s"$path/centroids_v$v"

  private val CentroidsDirName = "centroids_v(\\d+)".r

  /** Centroid versions present on disk (excluding the base table). */
  private def centroidVersions(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[Int] = {
    val fs = hadoopFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .collect { case CentroidsDirName(n) => n.toInt }
  }

  /** Resolve the centroid table the CURRENT generation was assigned
    * with: the largest `centroids_v{v}` with v ≤ the committed
    * generation, else the base `centroids`. Every reader of the
    * quantizer (probes, appends, serve builds) resolves through here,
    * so a [[retrainAnnIndex]] flips lists AND quantizer with the one
    * commit marker — readers of a pre-retrain plan keep the centroids
    * their cells were assigned with. */
  private[graft] def resolvedCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val cur = cellsGeneration(spark, path).getOrElse(0)
    val vs = centroidVersions(spark, path).filter(_ <= cur)
    if (vs.isEmpty) centroidsPath(path, 0) else centroidsPath(path, vs.max)
  }

  /** Resolve the CURRENT (cells dir, tombstone path) pair of an index —
    * the one level of indirection that makes [[compactAnnIndex]]'s swap
    * atomic: readers resolve the pair at plan time, compactions flip it
    * with one marker creation. */
  private[graft] def resolvedIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (String, String) = {
    val g = cellsGeneration(spark, path).getOrElse(0)
    (generationDir(path, g), tombstonesPath(path, g))
  }

  private def cellsDir(
      spark: org.apache.spark.sql.SparkSession,
      path: String): String = resolvedIndex(spark, path)._1

  /** The committed generation number (0 for a fresh build) — the
    * snapshot coordinate serve artifacts record. */
  private[graft] def committedGeneration(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Int = cellsGeneration(spark, path).getOrElse(0)

  /** Generation dirs newer than the committed pointer — crashed
    * compactions' partial writes (crash before the marker). */
  private def uncommittedGenerations(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Int] = {
    val fs = hadoopFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    val cur = cellsGeneration(spark, path).getOrElse(0)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .collect { case CellsDirName(n) if n.toInt > cur => n.toInt }
  }

  private val CellsDirName = "cells_v(\\d+)".r

  /** Retire every compacted generation (marker, then dir) — rebuild
    * housekeeping: [[buildAnnIndex]] writes generation 0 (`cells`)
    * again, so stale markers must not outlive it. */
  private def clearGenerations(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val fs = hadoopFs(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(base)) return
    val names = fs.listStatus(base).toSeq.map(_.getPath.getName)
    names.collect { case CommitMarkerName(n) => n }.foreach { n =>
      require(fs.delete(new org.apache.hadoop.fs.Path(s"$path/COMMIT_v$n"), false),
        s"could not retire commit marker COMMIT_v$n of $path")
    }
    names.collect { case CellsDirName(n) => n }.foreach { n =>
      require(fs.delete(new org.apache.hadoop.fs.Path(s"$path/cells_v$n"), true),
        s"could not retire generation $path/cells_v$n")
    }
    names.collect { case TombstonesGName(n) => n }.foreach { n =>
      deletePath(spark, s"$path/tombstones_g$n")
    }
    // retrained quantizer versions die with their generations — the
    // rebuild wrote a fresh base `centroids` that must win resolution
    names.collect { case CentroidsDirName(n) => n }.foreach { n =>
      deletePath(spark, s"$path/centroids_v$n")
    }
  }

  private val TombstonesGName = "tombstones_g(\\d+)".r

  /**
   * Index OBSERVABILITY — the per-cell balance + tombstone-debt table
   * a [[buildAnnIndex]] operator needs read before deciding anything
   * (the data-card / `lshBucketHistogram` convention: metrics emitted,
   * not just a verdict): one row per inverted list with its total,
   * tombstoned, and live member counts. The two production reads:
   * LIST SKEW (max/median n_live — probe latency is the hottest
   * probed cell's scan, so a degenerate quantizer shows up here
   * before it shows up as a tail) and TOMBSTONE DEBT
   * (Σ n_tombstoned / Σ n_vecs — the [[compactAnnIndex]] trigger the
   * caller's policy bound reads). One scan of the cell files (vec_id
   * + the partition column only — column-pruned), one broadcast
   * anti-probe of the tombstone set, one cell-keyed aggregation.
   */
  def annIndexStats(
      spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val (cellsAt, tombsAt) = resolvedIndex(spark, path)
    val cells = spark.read.parquet(cellsAt)
      .select(col("vec_id"), col("cell").cast("long"))
    // the tombstone set is DEDUPED at the read site: deleteFromAnnIndex
    // appends, so an overlapping or retried delete lands the same
    // vec_id twice — a left join against the raw files would then
    // MULTIPLY cell rows and inflate n_vecs and n_tombstoned (the
    // anti-join read sites are immune; this join is not)
    val tombed =
      if (pathExists(spark, tombsAt))
        cells.join(broadcast(spark.read.parquet(tombsAt).distinct()
          .select(col("vec_id"), lit(1L).as("_t"))), Seq("vec_id"), "left")
      else cells.withColumn("_t", lit(null).cast("long"))
    tombed.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(col("_t")), lit(0L)).as("n_tombstoned"))
      .withColumn("n_live", col("n_vecs") - col("n_tombstoned"))
  }

  /** Absolute paths of the data files under `dir` (empty when the dir
    * does not exist), hidden/marker entries excluded — the explicit
    * snapshot [[compactAnnIndexWithHook]]'s late-delete reconciliation
    * diffs, so the post-commit pass reads exactly the late files. */
  private def listParquetFiles(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(base)) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        out += f.getPath.toString
    }
    out.toSeq.sorted
  }

  private def hadoopFs(
      spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def pathExists(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    hadoopFs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  private def deletePath(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    hadoopFs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)

  /**
   * FILTERED ANN — approximate top-k restricted to corpus vectors
   * satisfying a metadata predicate (the production "vector search
   * with a metadata filter" ask: a label, a source, a date range).
   * The coarse quantizer is the FULL corpus's — the filter changes
   * per query batch, the index does not — and the predicate prunes
   * the CANDIDATE side only: probes rank cells in full centroid
   * space, and cell members failing the filter drop before the exact
   * re-rank. Assignment is per-row (argmax against the broadcast
   * centroid set), so filtering before assignment — what this direct
   * path does — yields the same candidate set as filtering the
   * materialized lists at probe time, which is where the predicate
   * lands on a [[buildAnnIndex]] layout ([[searchAnnIndexedFiltered]]:
   * metadata columns live beside the vector in the cell files and the
   * filter pushes into the partitioned scan).
   *
   * RECALL CAVEAT (the filtered-search trade): a probed cell
   * contributes only its surviving members, so at selectivity s the
   * candidate pool shrinks to ~s·nProbe·(n/stride) vectors — when
   * that dips under k the result UNDERFILLS rather than silently
   * widening the probe set (deterministic output beats hidden
   * retries). Widen `nProbe` for rare predicates, or brute-force the
   * filtered slice when s·n is small enough to scan exactly; q222b
   * records the achieved recall at this corpus's ~10% selectivity.
   */
  def ivfCosineTopKFiltered(
      corpus: DataFrame,
      queries: DataFrame,
      filter: Column,
      k: Int,
      stride: Int = 100,
      nProbe: Int = 2): DataFrame = {
    val cents = ivfCentroids(normed(corpus), stride)
    ivfRerank(ivfAssign(normed(corpus.where(filter)), cents),
      ivfProbes(queries, cents, nProbe), k)
  }

  /**
   * Approximate top-k: exact cosine re-rank restricted to same-bucket
   * candidates. The bucket join shuffles on the bucket id — at scale this
   * replaces the corpus-wide scan per query with a 1/2^bits slice.
   */
  def lshCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 8): DataFrame = {
    // norms materialized once per vector — the pair stage pays a single
    // dot product per candidate, like cosineTopK
    val c = withLshBucket(corpus, bits)
      .select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb"), col("bucket"))
      .withColumn("n_nrm", sqrt(dot(col("n_emb"), col("n_emb"))))
    val q = withLshBucket(queries, bits)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"), col("bucket"))
      .withColumn("q_nrm", sqrt(dot(col("q_emb"), col("q_emb"))))
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .where(col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 6))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("n_vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_vec_id"), col("n_vec_id"), col("cos"), col("rank"))
  }

  /**
   * MULTI-PROBE LSH top-k — the recall lever that costs probes, not
   * memory: each query inspects its own hyperplane bucket PLUS every
   * bucket at Hamming distance 1 (one sign bit flipped), so a true
   * neighbor that landed just across one hyperplane is recovered
   * without doubling the table count (Lv et al., VLDB 2007: perturbing
   * the query's bucket approximates what extra independent tables buy,
   * at zero extra index footprint). With `bits` hyperplanes a query
   * probes bits+1 buckets — recall rises toward the exact scan's while
   * the corpus-side layout (ONE bucket per vector) is unchanged.
   *
   * Scale shape: identical to [[lshCosineTopK]] — the probe expansion
   * is a query-side explode (queries are the tiny side and stay
   * broadcast), the join still keys on the bucket id, and each (query,
   * candidate) pair appears at most once because a corpus vector lives
   * in exactly one bucket and the probe set is distinct by
   * construction — no dedup exchange. Candidate volume is (bits+1)/2^bits
   * of the corpus per query in expectation.
   */
  def lshCosineTopKMultiProbe(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      bits: Int = 8): DataFrame = {
    val c = withLshBucket(corpus, bits)
      .select(col("vec_id").as("n_vec_id"), col("embedding").as("n_emb"), col("bucket"))
      .withColumn("n_nrm", sqrt(dot(col("n_emb"), col("n_emb"))))
    val probeSet = array(
      col("bucket") +: (0 until bits).map(i =>
        col("bucket").bitwiseXOR(lit(1L << i))): _*)
    val q = withLshBucket(queries, bits)
      .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
        explode(probeSet).as("bucket"))
      .withColumn("q_nrm", sqrt(dot(col("q_emb"), col("q_emb"))))
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .where(col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 6))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("n_vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_vec_id"), col("n_vec_id"), col("cos"), col("rank"))
  }

  /**
   * HARD-NEGATIVE mining for contrastive/retrieval training — per
   * anchor, the most-similar corpus vectors BELOW a near-duplicate
   * ceiling: candidates at cos ≥ `ceiling` are presumed positives or
   * duplicates of the anchor (training on them as negatives poisons
   * the loss — the classic false-negative trap), so the miner returns
   * the "close but not too close" band that actually sharpens a
   * retrieval model. Exact tier = the [[cosineTopK]] scan with the
   * ceiling; the q103b production twin rides multi-probe LSH buckets
   * so only ~(bits+1)/2^bits of the corpus is scored per anchor.
   */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      ceiling: Double = 0.8): DataFrame = {
    val c = withNorm(corpus, "n")
    val q = withNorm(queries, "q")
    val scored = c
      .join(broadcast(q), col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 6))
      .where(col("cos") < ceiling)
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("n_vec_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_vec_id"), col("n_vec_id"), col("cos"), col("rank"))
  }

  /** Scale twin of [[hardNegatives]]: the multi-probe LSH candidate set
    * with the same ceiling filter and re-rank — same shape as
    * [[lshCosineTopKMultiProbe]], so cost is the probed buckets, not
    * the corpus. */
  def hardNegativesMultiProbe(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      ceiling: Double = 0.8,
      bits: Int = 8): DataFrame =
    lshCosineTopKMultiProbe(corpus, queries, k = Int.MaxValue, bits = bits)
      .where(col("cos") < ceiling)
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("q_vec_id"))
          .orderBy(col("cos").desc, col("n_vec_id"))).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_vec_id"), col("n_vec_id"), col("cos"), col("rank"))

  /**
   * EMBEDDING-space DECONTAMINATION — the semantic complement of the
   * n-gram contamination screen ([[graft.operators.Pipeline
   * .contaminationCheck]]): a corpus vector is contaminated when its
   * cosine against ANY benchmark/eval vector reaches `tau`. N-gram
   * overlap misses paraphrased eval leakage; embedding cosine is the
   * screen that catches it (the LLM-era decontamination recipe — e.g.
   * the semantic dedup/decontamination line of SemDeDup,
   * arXiv:2303.09540). Returns EVERY corpus vector with its max
   * benchmark cosine and the verdict — the metric table threshold
   * tuning reads, like the Gopher rule battery.
   *
   * Scale shape: benchmark sets are eval-sized (thousands), so the
   * bench side BROADCASTS and the corpus side streams map-only through
   * one nested-loop score + a vec_id-keyed max aggregation — corpus
   * rows shuffle once, carrying only (vec_id, cos) pairs, never
   * embeddings. The all-pairs score is the exact verification tier (the
   * q15/q16 precedent); at larger bench sets compose the same ceiling
   * with the multi-probe LSH candidate path ([[hardNegativesMultiProbe]]
   * 's shape) so only probed buckets are scored.
   */
  def embeddingContamination(
      corpus: DataFrame,
      bench: DataFrame,
      tau: Double = 0.85): DataFrame = {
    val c = withNorm(corpus, "n")
    val q = withNorm(bench, "q")
    c.join(broadcast(q), col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 6))
      .groupBy(col("n_vec_id"))
      .agg(max(col("cos")).as("max_cos"))
      .select(col("n_vec_id").as("vec_id"), col("max_cos"),
        (col("max_cos") >= tau).as("contaminated"))
  }

  /**
   * EMBEDDING-side DAILY-INGEST composition —
   * [[graft.operators.Pipeline.dailyIngest]]'s twin for the vector
   * table (the vector-store upsert pipeline: exact-dup screen →
   * decontamination screen → keep): ONE decision-log row per arriving
   * vector.
   *
   *  - `dropped_exact`: the delta vector EQUALS a history vector
   *    element-wise. The join keys on the double-cast array ITSELF
   *    (arrays hash and compare exactly in both engines — no
   *    float-formatting fingerprint to drift); `anchor` = the
   *    smallest matching history vec_id. At 100 TB key the exchange
   *    on xxhash64 of the raw vector bytes and confirm on the
   *    carried array — the Bloom+confirm recipe of the text tier.
   *  - `dropped_near_dup`: it survived the exact screen but an LSH
   *    candidate from history scores cosine ≥ `tauNearDup` — the
   *    SemDeDup-style semantic screen, via [[lshNearDupPairs]]'
   *    multi-table bucketing AGAINST history (delta bucket rows probe
   *    history bucket rows per (table, bucket), never each other; hot
   *    HISTORY buckets above `maxBucketSize` drop whole — hot is a
   *    history property, the against-history convention); `anchor` =
   *    the smallest matched history vec_id (the dailyIngest anchor
   *    rule). `bits` is PINNED to 4 by default because the oracle
   *    mirrors a fixed hyperplane family (the q16b contract) — size
   *    it with [[deriveLshBits]] in production.
   *  - `dropped_contaminated`: it survived both screens but its max
   *    benchmark cosine reaches `tau`
   *    ([[embeddingContamination]] semantics — the paraphrased-eval-
   *    leakage screen); `anchor` = the closest bench vec_id
   *    ((round-6 cos desc, id) tie-break).
   *  - `kept`: admitted — compose [[appendAnnIndex]] over the kept
   *    set for the index side (q100's contract) exactly like the
   *    text pipeline composes its data-card merge.
   *
   * Scale shape: delta ⋈ static history everywhere (never a
   * self-join); the bench side broadcasts (eval-sized, the q108
   * argument); the near-dup candidate join shuffles (t, bucket) keys
   * with hot history buckets excluded before pairing; one row per
   * delta vector BY CONSTRUCTION (left joins off the delta spine).
   * Live twin: [[graft.streaming.StreamingOps.embeddingIngestScreen]],
   * parity-pinned in StreamingSpec. Registers TWO corpus-scale
   * persists (delta, history) that only the caller's action scope can
   * release — requireScope, the dailyIngest contract.
   *
   * @param delta   (vec_id, embedding) — the arriving vectors
   * @param history (vec_id, embedding) — the static corpus
   * @param bench   (vec_id, embedding) — the benchmark/eval set
   * @return one row per delta vector: (vec_id, stage, anchor)
   */
  def embeddingIngest(
      delta: DataFrame,
      history: DataFrame,
      bench: DataFrame,
      tau: Double = 0.85,
      tauNearDup: Double = 0.9,
      bits: Int = 4,
      tables: Int = 4,
      maxBucketSize: Int = MaxPairBucket): DataFrame = {
    graft.Caching.requireScope("Similarity.embeddingIngest")
    val d = graft.Caching.persist(normed(delta))
    val h = graft.Caching.persist(normed(history))
    val exact = d.select(col("vec_id"), col("emb"))
      .join(h.select(col("emb"), col("vec_id").as("_h")), Seq("emb"))
      .groupBy(col("vec_id")).agg(min(col("_h")).as("_ex"))
    val survivors = d.join(exact, Seq("vec_id"), "left_anti")
    def bucketRows(n: DataFrame): DataFrame = n
      .select(col("vec_id"), col("emb"), col("nrm"),
        explode(array((0 until tables).map(t =>
          struct(lit(t.toLong).as("t"),
            lshTableBucketCol(col("emb"), t, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("emb"), col("nrm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val histB = bucketRows(h)
    val hok = histB.groupBy(col("t"), col("bucket"))
      .agg(count(lit(1)).as("_n")).where(col("_n") <= maxBucketSize)
      .select(col("t"), col("bucket"))
    val nd = bucketRows(survivors)
      .join(histB.join(hok, Seq("t", "bucket"))
        .select(col("t"), col("bucket"), col("vec_id").as("_h"),
          col("emb").as("_hemb"), col("nrm").as("_hnrm")),
        Seq("t", "bucket"))
      .where(round(dot(col("emb"), col("_hemb")) /
        (col("nrm") * col("_hnrm")), 6) >= tauNearDup)
      .groupBy(col("vec_id")).agg(min(col("_h")).as("_nd"))
    val q = withNorm(bench, "q")
    val cont = survivors
      .join(broadcast(q), col("q_vec_id") =!= col("vec_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")), 6))
      .where(col("cos") >= tau)
      .groupBy(col("vec_id"))
      .agg(max_by(col("q_vec_id"),
        struct(col("cos"), -col("q_vec_id"))).as("_ct"))
    d.select(col("vec_id"))
      .join(exact, Seq("vec_id"), "left")
      .join(nd, Seq("vec_id"), "left")
      .join(cont, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("_ex").isNotNull, lit("dropped_exact"))
          .when(col("_nd").isNotNull, lit("dropped_near_dup"))
          .when(col("_ct").isNotNull, lit("dropped_contaminated"))
          .otherwise(lit("kept")).as("stage"),
        coalesce(col("_ex"), col("_nd"), col("_ct")).as("anchor"))
  }

  // ── Product quantization (PQ / ADC) ─────────────────────────────────
  //
  // The COMPRESSED-DOMAIN tier (Jégou, Douze, Schmid, "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011): split each
  // vector into `m` subspaces, quantize every subspace against its own
  // k-entry codebook, store only the m code bytes. A 64-dim float
  // embedding (256 B) becomes 8 B — the memory lever that makes a
  // 100 TB embedding table scannable from RAM — and search runs
  // Asymmetric Distance Computation: the QUERY stays exact, each
  // (query, subspace) pair precomputes a k-entry lookup table once,
  // and scoring a corpus vector is m table picks + a sum, no float
  // vector ever touched.
  //
  // Codebooks here are deterministic stride-sampled seeds (the IVF
  // centroid recipe — no RNG, no trained model) so engine and oracle
  // derive byte-identical codes; the codebook is m·k·subDim doubles
  // (≤ a few KB), collected ONCE driver-side (bounded, like the NB
  // model or the HotKeys hot set) and shipped as codegen literals —
  // encoding is a MAP-ONLY pass with zero shuffles (plan-pinned), the
  // scale shape a 10⁹-vector encode needs.

  /** PQ defaults sized to the 64-dim fixture: 8 subspaces × 8 dims,
    * 16-entry codebooks (4-bit codes), seeds every 25th vector. */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16
  val PqStride = 25

  /** Deterministic collected codebook: cb(s)(j) = sub-slice `s` of the
    * vector with vec_id = j·stride. Driver-bounded: m·k·subDim doubles. */
  def pqCodebook(
      corpus: DataFrame,
      m: Int = PqM,
      subDim: Int = PqSubDim,
      k: Int = PqK,
      stride: Int = PqStride): Array[Array[Array[Double]]] = {
    val seeds = corpus
      .where(pmod(col("vec_id"), lit(stride)) === 0 &&
        col("vec_id") < k.toLong * stride)
      .select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .collect()
      .map(r => (r.getLong(0) / stride).toInt -> r.getSeq[Double](1).toArray)
      .toMap
    require(seeds.size == k,
      s"PQ codebook needs $k seeds at vec_id ≡ 0 (mod $stride), found ${seeds.size}")
    seeds.values.foreach(v => require(v.length == m * subDim,
      s"PQ expects dimension ${m * subDim}, seed has ${v.length}"))
    Array.tabulate(m, k)((s, j) => seeds(j).slice(s * subDim, (s + 1) * subDim))
  }

  /** Map-only PQ code array for one embedding column: per subspace the
    * argmin-L2 codebook entry (L2 via ‖v‖² + ‖c‖² − 2·v·c with the
    * codegen dot; rounded to 6 so the argmin boundary is engine-portable;
    * ties to the smallest code). */
  private[graft] def pqCodesCol(emb: Column, cb: Array[Array[Array[Double]]], subDim: Int): Column =
    array(cb.indices.map { s =>
      val sub = slice(emb, s * subDim + 1, subDim)
      val subNorm = dotProduct(sub, sub)
      val entries = cb(s).zipWithIndex.map { case (c, j) =>
        val cNorm = c.foldLeft(0.0)((acc, x) => acc + x * x)
        struct(
          round(subNorm + lit(cNorm) - lit(2.0) * dotProduct(sub, typedLit(c.toSeq)), 6)
            .as("l2"),
          lit(j).as("j"))
      }
      array_min(array(entries.toIndexedSeq: _*)).getField("j")
    }.toIndexedSeq: _*)

  /** PQ-encode the corpus: (vec_id, codes array<int>) — one map-only
    * codegen pass, no exchange (plan-pinned in PlanAuditSpec via the
    * q99 zero-shuffle budget). */
  def pqEncode(
      corpus: DataFrame,
      m: Int = PqM,
      subDim: Int = PqSubDim,
      k: Int = PqK,
      stride: Int = PqStride): DataFrame = {
    val cb = pqCodebook(corpus, m, subDim, k, stride)
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .select(col("vec_id"), pqCodesCol(col("emb"), cb, subDim).as("codes"))
  }

  /**
   * ADC top-k over PQ codes: each query precomputes its m×k inner-product
   * lookup table ONCE (an array-of-arrays column on the tiny broadcast
   * query side), and every corpus vector is scored by m `element_at`
   * picks + a fixed-order sum — the compressed-domain brute-force scan.
   * Declared scale shape: like [[cosineTopK]] this reads the whole code
   * table per query batch, but at m bytes/vector instead of the float
   * row — 32× less I/O — and composes with the IVF layout for
   * sublinearity (probe cells first, ADC-score inside them). The
   * approximation quality is pinned by the q99c recall contract, not
   * trusted.
   */
  def pqAdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      kTop: Int = 10,
      m: Int = PqM,
      subDim: Int = PqSubDim,
      k: Int = PqK,
      stride: Int = PqStride): DataFrame = {
    val cb = pqCodebook(corpus, m, subDim, k, stride)
    val coded = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .select(col("vec_id"), pqCodesCol(col("emb"), cb, subDim).as("codes"))
    val lut = array((0 until m).map { s =>
      val qSub = slice(col("q_emb"), s * subDim + 1, subDim)
      array(cb(s).indices.map(j => dotProduct(qSub, typedLit(cb(s)(j).toSeq))): _*)
    }: _*)
    val q = queries
      .select(col("vec_id").as("q_vec_id"), asDouble(col("embedding")).as("q_emb"))
      .withColumn("lut", lut)
      .select(col("q_vec_id"), col("lut"))
    val adc = (0 until m).map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1) + lit(1))
    }.reduce(_ + _)
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("adc").desc, col("n_vec_id"))
    coded.withColumnRenamed("vec_id", "n_vec_id")
      .join(broadcast(q), col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("adc", round(adc, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= kTop)
      .select(col("q_vec_id"), col("n_vec_id"), col("adc"), col("rank"))
  }

  /**
   * IVF-PQ top-k — the two tiers composed the way billion-scale indexes
   * actually run (IVF-ADC, Jégou et al. TPAMI 2011 §IV): the IVF coarse
   * quantizer prunes the scan to nProbe inverted lists (sublinearity),
   * and inside a list candidates are scored from their PQ codes by LUT
   * picks (memory). The float vector is touched by NEITHER stage — a
   * probe reads m code bytes per candidate, so a 1000-executor scan of
   * a 10⁹-vector index is nProbe/k_cells of the corpus at 8 B a row.
   * Both ingredients keep their own oracle contracts (q26 cell math,
   * q99 code math); q101 pins the composition, and SimilaritySpec
   * asserts tier consistency (same ADC score as the flat scan for every
   * returned pair, candidates confined to probed cells).
   */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      kTop: Int = 10,
      stride: Int = 100,
      nProbe: Int = 2,
      m: Int = PqM,
      subDim: Int = PqSubDim,
      k: Int = PqK,
      pqStride: Int = PqStride): DataFrame =
    ivfPqTopKImpl(corpus, queries, None, kTop, stride, nProbe,
      m, subDim, k, pqStride)

  /**
   * FILTERED IVF-ADC top-k — [[ivfCosineTopKFiltered]]'s compressed-
   * domain twin, closing the composition q222 + q101 left open (the
   * 32×-memory tier and the metadata-filter production ask could not
   * compose): the predicate prunes the CANDIDATE side only, while the
   * coarse quantizer (centroids) and the PQ codebook stay FROZEN
   * full-corpus artifacts — the q222 contract ("the quantizer never
   * rebuilds per predicate") extended to the second quantization
   * stage, so codes and probe order are filter-independent and two
   * predicates over the same corpus share every quantizer artifact.
   * Oracle: the q101 ADC chain with the candidate clause (q229).
   */
  def ivfPqTopKFiltered(
      corpus: DataFrame,
      queries: DataFrame,
      filter: Column,
      kTop: Int = 10,
      stride: Int = 100,
      nProbe: Int = 2,
      m: Int = PqM,
      subDim: Int = PqSubDim,
      k: Int = PqK,
      pqStride: Int = PqStride): DataFrame =
    ivfPqTopKImpl(corpus, queries, Some(filter), kTop, stride, nProbe,
      m, subDim, k, pqStride)

  private def ivfPqTopKImpl(
      corpus: DataFrame,
      queries: DataFrame,
      filter: Option[Column],
      kTop: Int,
      stride: Int,
      nProbe: Int,
      m: Int,
      subDim: Int,
      k: Int,
      pqStride: Int,
      refineFactor: Int = 0): DataFrame = {
    val cb = pqCodebook(corpus, m, subDim, k, pqStride)
    val n = normed(corpus)
    val cents = ivfCentroids(n, stride)
    val cand = filter.map(f => normed(corpus.where(f))).getOrElse(n)
    // the refine stage re-ranks against float vectors FROM THE PROBED
    // CELLS, so the candidate side carries (emb, nrm) alongside the
    // codes — still only nProbe/k_cells of the corpus crosses the
    // probe join, and the pure-ADC path (refineFactor = 0) prunes the
    // floats from the scan via column pruning
    val assign = ivfAssign(cand, cents)
    val coded = assign
      .select(Seq(col("vec_id").as("n_vec_id"), col("cell"),
        pqCodesCol(col("emb"), cb, subDim).as("codes")) ++
          (if (refineFactor > 0) Seq(col("emb"), col("nrm")) else Nil): _*)
    val lut = array((0 until m).map { s =>
      val qSub = slice(col("q_emb"), s * subDim + 1, subDim)
      array(cb(s).indices.map(j => dotProduct(qSub, typedLit(cb(s)(j).toSeq))): _*)
    }: _*)
    val probes = ivfProbes(queries, cents, nProbe)
      .withColumn("lut", lut)
      .select(Seq(col("q_vec_id"), col("cell"), col("lut")) ++
        (if (refineFactor > 0) Seq(col("q_emb"), col("q_nrm")) else Nil): _*)
    val adc = (0 until m).map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1) + lit(1))
    }.reduce(_ + _)
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("adc").desc, col("n_vec_id"))
    val scored = coded.join(broadcast(probes), Seq("cell"))
      .where(col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("adc", round(adc, 6))
      .withColumn("rank", row_number().over(w).cast("long"))
    if (refineFactor <= 0)
      scored.where(col("rank") <= kTop)
        .select(col("q_vec_id"), col("n_vec_id"), col("adc"), col("rank"))
    else {
      // ADC+REFINE (IVF-ADC-R, Jégou et al. TPAMI 2011 §V): keep the
      // ADC top-R (R = refineFactor·kTop), then re-rank those R rows
      // by TRUE cosine — floats are touched for R rows per query, so
      // the lift over pure ADC costs R exact dot products, not a scan
      val wr = Window.partitionBy(col("q_vec_id"))
        .orderBy(col("cos").desc, col("n_vec_id"))
      scored.where(col("rank") <= refineFactor.toLong * kTop)
        .withColumn("cos", round(
          dot(col("q_emb"), col("emb")) / (col("q_nrm") * col("nrm")), 6))
        .withColumn("rank", row_number().over(wr).cast("long"))
        .where(col("rank") <= kTop)
        .select(col("q_vec_id"), col("n_vec_id"), col("cos"), col("rank"))
    }
  }

  /**
   * ADC+REFINE IVF-PQ top-k — the standard recall lift over
   * [[ivfPqTopK]] (IVF-ADC-R): the compressed-domain scan keeps its
   * top R = `refineFactor`·kTop per query, and ONLY those R rows are
   * re-ranked by exact float cosine (vectors read from the probed
   * cells — never a corpus scan). Same probe budget as the pure-ADC
   * tier; the recall lift is pinned by the q229c contract rather than
   * trusted. Returns (q_vec_id, n_vec_id, cos, rank) — the refined
   * score is the TRUE cosine, so downstream thresholds mean what they
   * say.
   */
  def ivfPqTopKRefined(
      corpus: DataFrame,
      queries: DataFrame,
      kTop: Int = 10,
      refineFactor: Int = 5,
      stride: Int = 100,
      nProbe: Int = 2,
      m: Int = PqM,
      subDim: Int = PqSubDim,
      k: Int = PqK,
      pqStride: Int = PqStride): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    ivfPqTopKImpl(corpus, queries, None, kTop, stride, nProbe,
      m, subDim, k, pqStride, refineFactor)
  }

  /** [[ivfPqTopKRefined]] under a metadata predicate — the predicate
    * prunes the candidate side BEFORE the ADC scan and therefore
    * before the refine (quantizers stay frozen full-corpus, the
    * two-stage q229 contract); the refine then lifts the filtered
    * tier's recall (q229b measured 0.3–0.5 at ~10% selectivity — the
    * honest floor this operator exists to raise; q229c records the
    * lift). */
  def ivfPqTopKFilteredRefined(
      corpus: DataFrame,
      queries: DataFrame,
      filter: Column,
      kTop: Int = 10,
      refineFactor: Int = 5,
      stride: Int = 100,
      nProbe: Int = 2,
      m: Int = PqM,
      subDim: Int = PqSubDim,
      k: Int = PqK,
      pqStride: Int = PqStride): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    ivfPqTopKImpl(corpus, queries, Some(filter), kTop, stride, nProbe,
      m, subDim, k, pqStride, refineFactor)
  }

  /**
   * Exact MAXIMUM-INNER-PRODUCT top-k — the retrieval-model scoring
   * order (a two-tower model ranks by q·x, NOT by cosine: a document
   * embedding's norm carries learned relevance mass that cosine's
   * normalization would erase). Same broadcast-query brute-force shape
   * as [[cosineTopK]], ranking on the rounded dot product.
   */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("n_vec_id"),
      asDouble(col("embedding")).as("n_emb"))
    val q = queries.select(col("vec_id").as("q_vec_id"),
      asDouble(col("embedding")).as("q_emb"))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("dot").desc, col("n_vec_id"))
    c.join(broadcast(q), col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("dot", round(dot(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_vec_id"), col("n_vec_id"), col("dot"), col("rank"))
  }

  /**
   * MIPS → cosine REDUCTION (Bachrach et al., RecSys 2014): augment
   * each corpus vector with one extra dimension √(M² − ‖x‖²), where
   * M = max corpus norm, and each query with 0. Every augmented corpus
   * vector then has norm exactly M, so for a fixed query the augmented
   * cosine is dot(q, x)/(‖q‖·M) — a positive MONOTONE transform of the
   * inner product: cosine order ≡ MIPS order. That single column
   * expression is what unlocks the ENTIRE cosine ANN stack (LSH,
   * multi-probe, IVF, PQ — q25/q95/q26/q99) for inner-product
   * retrieval at 100 TB; the q130b contract asserts the reduction's
   * rank agreement against [[mipsTopK]] on the raw corpus.
   *
   * Map-only: M comes from one 1-row max aggregate broadcast back as a
   * cross (the winsorize recipe); the augmentation is a codegen concat.
   * `clamp` guards the √ against the augmented-dim float residue when
   * x IS the max-norm vector.
   *
   * @return (vec_id, embedding) with the augmented array<double>
   */
  def augmentForMips(corpus: DataFrame): DataFrame = {
    val c = corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
    val m = c.agg(max(sqrt(dot(col("emb"), col("emb")))).as("_m"))
    c.crossJoin(broadcast(m))
      .select(col("vec_id"),
        concat(col("emb"), array(sqrt(greatest(
          col("_m") * col("_m") - dot(col("emb"), col("emb")),
          lit(0.0))))).as("embedding"))
  }

  /**
   * BINARY sign-bit signatures — the most compressed embedding form:
   * `bits` random-hyperplane signs (the SAME deterministic md5 matrix
   * the LSH family uses) packed into one long. 48 bits = 6 bytes per
   * vector, a 42× cut from 64 float32 dims; by Goemans–Williamson,
   * P[bit differs] = θ/π, so Hamming distance is an unbiased angle
   * estimate with σ shrinking as bits grow.
   */
  def binarySignatures(corpus: DataFrame, bits: Int = 48): DataFrame = {
    require(bits >= 8 && bits <= 62,
      s"bits must be in [8, 62] (packed into one signed long), got $bits")
    corpus.select(col("vec_id"), asDouble(col("embedding")).as("emb"))
      .select(col("vec_id"), lshBucketCol(col("emb"), bits).as("sig"))
  }

  /**
   * HAMMING brute-force top-k over binary signatures — the binary
   * sibling of PQ's ADC scan (q99b): one XOR + popcount per candidate
   * (integer-exact, no rounding contract on the distance), ranked
   * ascending with the id tie-break. The coarse tier of a
   * binary-then-exact pipeline: take k' ≫ k here, re-rank the
   * survivors with true cosine — corpus floats are touched only for
   * k' rows per query. q135b pins that pipeline's recall against the
   * exact q15 ranking.
   */
  def hammingTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      bits: Int = 48): DataFrame = {
    val c = binarySignatures(corpus, bits)
      .select(col("vec_id").as("n_vec_id"), col("sig").as("n_sig"))
    val q = binarySignatures(queries, bits)
      .select(col("vec_id").as("q_vec_id"), col("sig").as("q_sig"))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("hamming"), col("n_vec_id"))
    c.join(broadcast(q), col("q_vec_id") =!= col("n_vec_id"))
      .withColumn("hamming",
        bit_count(col("q_sig").bitwiseXOR(col("n_sig"))).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_vec_id"), col("n_vec_id"), col("hamming"), col("rank"))
  }

  /**
   * EMBEDDING-CENTROID drift between two corpus slices, per label —
   * the embedding-space sibling of q79's term drift: a label whose
   * mean vector rotates between snapshots has changed meaning/content
   * (encoder update, topic shift, poisoning), which per-document
   * screens can't see. Reported as the cosine between each label's
   * two centroids.
   *
   * Engine-exactness: cosine is SCALE-INVARIANT, so the count
   * divisions cancel — the centroid cosine computes directly from
   * per-dimension INTEGER sums of micro-quantized components (the
   * TWAP quantization recipe): exact long sums per (label, dim),
   * exact DECIMAL(38,0) cross/self products, then one fixed fp tree
   * (three exact-int→double casts, two √, one ÷), identical in the
   * oracle.
   *
   * Scale shape: each side is one posexplode (dim× rows, map-side
   * partial aggregation collapses to labels × dims before the
   * exchange) + one (label, dim)-keyed shuffle; the final per-label
   * reduce is a labels-sized frame. Corpus vectors are read once per
   * side.
   *
   * @param a,b (label, embedding) slices
   * @return per label: n_a, n_b, cos (round 6); labels present in
   *         only one side are omitted (no centroid to compare)
   */
  def centroidDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def dimSums(df: DataFrame, side: String): DataFrame =
      df.select(col("label").cast("long").as("label"),
          posexplode(asDouble(col("embedding"))).as(Seq("dim", "v")))
        .withColumn("vmicro", round(col("v") * 1e6).cast("long"))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("vmicro")).as(s"s_$side"))
    def counts(df: DataFrame, side: String): DataFrame =
      df.groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as(s"n_$side"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    dimSums(a, "a").join(dimSums(b, "b"), Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(
        sum(dec(col("s_a")) * dec(col("s_b"))).as("_dot"),
        sum(dec(col("s_a")) * dec(col("s_a"))).as("_na2"),
        sum(dec(col("s_b")) * dec(col("s_b"))).as("_nb2"))
      .join(counts(a, "a"), Seq("label"))
      .join(counts(b, "b"), Seq("label"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(col("_dot").cast("double") /
          (sqrt(col("_na2").cast("double")) * sqrt(col("_nb2").cast("double"))),
          6).as("cos"))
  }

  /**
   * LABEL-OUTLIER screen — the mislabeled-point detector (confident
   *-learning lite): each vector's cosine to its OWN label's centroid,
   * flagged when it falls in the label's bottom `pLo` tail. A point
   * far from everything it is supposedly an example of is a labeling
   * error, an encoder glitch, or a genuinely hard case — all worth a
   * human look before training on them.
   *
   * Determinism: centroids assemble from the q136 recipe (per-
   * (label, dim) exact integer sums of micro-quantized components,
   * ordered into an array by dim — scale invariance again cancels the
   * count division), the per-vector cosine is one codegen dot against
   * the broadcast ≤labels-row centroid table, and the per-label cut
   * is an exact interpolated percentile over round-6 cosines — every
   * stage replayable in the oracle.
   *
   * Scale shape: one posexplode + (label, dim) exchange for the
   * centroids (labels × dims rows), then map-only scoring against the
   * broadcast centroid table and one labels-sized percentile
   * aggregate joined back as a broadcast. Corpus vectors are scanned
   * twice (centroid fit + scoring) — persist upstream if that
   * matters; `percentile_approx` is the same-plan 100 TB swap.
   *
   * @return (vec_id, label, cos, is_outlier)
   */
  def labelOutliers(corpus: DataFrame, pLo: Double = 0.05): DataFrame = {
    require(pLo > 0 && pLo < 1, s"pLo must be in (0,1), got $pLo")
    val cents = corpus
      .select(col("label").cast("long").as("label"),
        posexplode(asDouble(col("embedding"))).as(Seq("dim", "v")))
      .withColumn("vmicro", round(col("v") * 1e6).cast("long"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("vmicro")).as("s"))
      .groupBy(col("label"))
      .agg(transform(
        sort_array(collect_list(struct(col("dim"), col("s")))),
        x => x.getField("s").cast("double")).as("cvec"))
    val scored = corpus
      .select(col("vec_id"), col("label").cast("long").as("label"),
        asDouble(col("embedding")).as("emb"))
      .join(broadcast(cents), Seq("label"))
      .withColumn("cos", round(
        dot(col("emb"), col("cvec")) /
          (sqrt(dot(col("emb"), col("emb"))) *
            sqrt(dot(col("cvec"), col("cvec")))), 6))
    val cuts = scored.groupBy(col("label"))
      .agg(round(expr(s"percentile(cos, $pLo)"), 6).as("_thr"))
    scored.join(broadcast(cuts), Seq("label"))
      .select(col("vec_id"), col("label"), col("cos"),
        (col("cos") <= col("_thr")).as("is_outlier"))
  }

  /**
   * k-NEAREST-NEIGHBOR classification over the embedding table — the
   * zero-training label propagator (eval-set auto-labeling, weak
   * supervision, label-noise auditing): each query takes the MAJORITY
   * label of its k exact cosine neighbors, ties to the smallest label
   * (deterministic). The exact tier; at scale swap [[cosineTopK]] for
   * any ANN tier — the vote is the same one aggregate.
   *
   * Scale shape: the q15 broadcast-query scan + one (query, label)
   * partial-agg exchange bounded by queries × labels; the argmax is
   * `max_by` over (votes, −label), the Clustering majority idiom.
   *
   * @param corpus  (vec_id, embedding, label)
   * @param queries (vec_id, embedding), small — gets broadcast
   * @return (q_vec_id, predicted, n_votes)
   */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    cosineTopK(corpus.select(col("vec_id"), col("embedding")), queries, k)
      .join(corpus.select(col("vec_id").as("n_vec_id"),
        col("label").cast("long").as("label")), Seq("n_vec_id"))
      .groupBy(col("q_vec_id"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("q_vec_id"))
      .agg(
        max_by(col("label"), struct(col("n"), -col("label"))).as("predicted"),
        max(col("n")).as("n_votes"))

  /**
   * EMBEDDING-HEALTH audit — the similarity tier's preflight (the q104
   * referential audit's numeric sibling): one row of the failure modes
   * an encoder or ingest bug writes into an embedding table before any
   * ANN/dedup/classification consumer trips over them — null/empty
   * rows, NaN components, all-zero vectors (cosine is undefined:
   * they silently rank everywhere), ragged dimensionality (dims_min ≠
   * dims_max breaks every dot product), DEAD dimensions (coordinates
   * that are 0 across the whole table — wasted index width, a stale
   * projection or a truncated encoder), and the norm envelope
   * (min/mean/max — a collapsed or exploding norm distribution is an
   * encoder-regression signal two-tower training cares about).
   *
   * Determinism: counts are exact longs; each norm is the codegen
   * [[dot]] + sqrt micro-quantized to a long BEFORE min/mean/max (the
   * q136 recipe), so the envelope is engine-exact; dead-dim detection
   * compares micro-quantized components to zero — no float tolerance.
   *
   * Scale shape: one map-only vector scan collapsing to a 1-row
   * aggregate, plus the q136 posexplode (vec, dim) exchange whose
   * output is dims-bounded; the two 1-row frames cross at the end.
   * NaN-containing vectors are excluded from the norm envelope (their
   * norm is NaN, counted separately), null/empty from everything but
   * their own count.
   *
   * @param embs (vec_id, embedding, …)
   * @return one row: n_vecs, n_null_or_empty, n_nan_vecs, n_zero_vecs,
   *         dims_min, dims_max, dead_dims, min_norm, max_norm,
   *         mean_norm (round-6)
   */
  def embeddingHealth(embs: DataFrame): DataFrame = {
    val e = col("embedding")
    val d = asDouble(e)
    val usable = e.isNotNull && size(e) > 0
    val hasNan = exists(d, v => isnan(v))
    val base = embs
      .select(
        (e.isNull || size(e) === 0).as("_bad"),
        when(e.isNotNull, size(e).cast("long")).as("_dims"),
        when(usable, hasNan).as("_has_nan"),
        when(usable && !hasNan, !exists(d, v => v =!= 0.0)).as("_zero"),
        when(usable && !hasNan,
          round(norm(d) * 1e6).cast("long")).as("_norm_micro"))
      .agg(
        count(lit(1)).as("n_vecs"),
        coalesce(sum(when(col("_bad"), 1L)), lit(0L)).as("n_null_or_empty"),
        coalesce(sum(when(col("_has_nan"), 1L)), lit(0L)).as("n_nan_vecs"),
        coalesce(sum(when(col("_zero"), 1L)), lit(0L)).as("n_zero_vecs"),
        min(col("_dims")).as("dims_min"),
        max(col("_dims")).as("dims_max"),
        round(min(col("_norm_micro")).cast("double") / 1e6, 6).as("min_norm"),
        round(max(col("_norm_micro")).cast("double") / 1e6, 6).as("max_norm"),
        round(sum(col("_norm_micro")).cast("double") / 1e6 /
          count(col("_norm_micro")).cast("double"), 6).as("mean_norm"))
    // NaN components neither attest nor kill a dim (they're counted via
    // n_nan_vecs; DuckDB cannot cast NaN to BIGINT at all) — filter them
    // before quantizing on BOTH engines.
    val dead = embs.where(e.isNotNull)
      .select(posexplode(d).as(Seq("dim", "v")))
      .where(!isnan(col("v")))
      .groupBy(col("dim"))
      .agg(max(abs(round(col("v") * 1e6).cast("long"))).as("_m"))
      .agg(coalesce(sum(when(col("_m") === 0, 1L)), lit(0L)).as("dead_dims"))
    base.crossJoin(broadcast(dead))
      .select(col("n_vecs"), col("n_null_or_empty"), col("n_nan_vecs"),
        col("n_zero_vecs"), col("dims_min"), col("dims_max"),
        col("dead_dims"), col("min_norm"), col("max_norm"),
        col("mean_norm"))
  }

  /**
   * Dimension COVARIANCE / CORRELATION matrix — the second-moment
   * audit behind [[embeddingHealth]]'s first moments: per dimension
   * pair (i ≤ j), the population covariance and Pearson correlation of
   * the embedding components across the corpus. High |corr| off the
   * diagonal means redundant dimensions (the PCA/whitening signal);
   * near-zero diagonal variance re-finds dead dims with magnitudes.
   * This is the exact Gram-style statistic an offline PCA / whitening
   * fit consumes — the d×d frame IS the input to any eigensolver.
   *
   * Determinism: components micro-quantize to longs up front (the
   * q136 convention), every co-moment is the exact integer
   * n·Σxy − Σx·Σy in DECIMAL(38,0), and cov/corr are single round-6
   * divisions at the end. Zero-variance dims emit null corr.
   *
   * Scale shape: the (i, j) pair fan-out is MAP-SIDE (posexplode ×
   * posexplode of the j ≥ i slice — d(d+1)/2 rows per vector) and
   * collapses to d(d+1)/2 groups by partial aggregation before the one
   * shuffle, so exchange volume is d²·partitions regardless of corpus
   * size. The diagonal joins back via a d-row broadcast. Nothing
   * collects.
   *
   * @param embs (vec_id, embedding) — rectangular (equal dims)
   * @return (i, j, n_vecs, cov, corr) for 0 ≤ i ≤ j < d
   */
  def covarianceMatrix(embs: DataFrame): DataFrame = {
    val moments = coMoments(embs)
    val diag = moments.where(col("i") === col("j"))
      .select(col("i").as("_d"), col("_com").as("_var"))
    moments
      .join(broadcast(diag.withColumnRenamed("_d", "i")
        .withColumnRenamed("_var", "_vi")), Seq("i"))
      .join(broadcast(diag.withColumnRenamed("_d", "j")
        .withColumnRenamed("_var", "_vj")), Seq("j"))
      .select(col("i"), col("j"), col("n_vecs"),
        // + 0.0 canonicalizes IEEE −0.0 (a tiny negative co-moment
        // rounds to it, and engines render it differently)
        (round(col("_com").cast("double") /
          (col("n_vecs") * col("n_vecs")).cast("double") / 1e12, 6) + 0.0)
          .as("cov"),
        when(col("_vi") > 0 && col("_vj") > 0,
          round(col("_com").cast("double") /
            (sqrt(col("_vi").cast("double")) * sqrt(col("_vj").cast("double"))),
            6) + 0.0).as("corr"))
  }

  /** Upper-triangle exact co-moments (i ≤ j): per dimension pair, the
    * DECIMAL(38,0) integer n·Σxy − Σx·Σy over micro-quantized
    * components. The kernel is the [[org.apache.spark.sql.graft.GramMoments]]
    * per-partition Gram accumulator — each vector is walked ONCE with a
    * flat multiply-add into a Long/BigInt triangle array (the old
    * posexplode × slice-posexplode plan fanned every vector out to
    * d(d+1)/2 ROWS, a ~2,000× arithmetic-row constant at d = 64), so
    * the exchange carries one d²-bounded buffer per partition and the
    * per-vector cost is the arithmetic lower bound. Null/empty vectors
    * contribute nothing (the old posexplode semantics); ragged dims
    * fail loudly. Persisted — [[covarianceMatrix]] reads it twice
    * (matrix + diagonal) and [[principalComponent]] mirrors it. */
  private def coMoments(embs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graft.GramFunctions.gramMoments
    val e = col("embedding")
    val xq = transform(asDouble(e), x => round(x * lit(1e6)).cast("long"))
    graft.Caching.persist(embs
      .where(e.isNotNull && size(e) > 0)
      .select(gramMoments(xq).as("_g"))
      .select(explode(col("_g")).as("_r"))
      .select(col("_r.i").as("i"), col("_r.j").as("j"),
        col("_r.n_vecs").as("n_vecs"), col("_r._sx").as("_sx"),
        col("_r._sy").as("_sy"), col("_r._sxy").as("_sxy"),
        col("_r._com").as("_com")))
  }

  /**
   * TOP PRINCIPAL COMPONENT by power iteration — ENGINE-EXACT PCA:
   * the dominant eigenvector of the dimension covariance matrix, with
   * every arithmetic step integral so any engine replays it bit-for-
   * bit. The "is there one axis that explains the embedding space?"
   * audit: a dominant PC with high explained variance means the
   * encoder wastes capacity (or a systematic bias — e.g. sequence
   * length leaking into every vector); the loadings name the
   * dimensions carrying it. The fitted direction is also the
   * whitening/debiasing projector's first column.
   *
   * Arithmetic: the covariance enters as cq = sign(com)·(|com| div n²)
   * (micro² units, so magnitudes stay scale-free and the truncating
   * division only ever sees nonnegative operands — DuckDB's floor
   * `//` takes the same quotient); the iterate x starts at 1e6·𝟙 and
   * each round computes the exact BigInt matvec raw = Cq·x, then
   * renormalizes to max-abs 1e6 by sign(raw)·((|raw|·1e6) div
   * max|raw|). A fixed iteration count (default 20 — squares the
   * eigengap ratio 20 times) replaces convergence detection, the
   * q117 recipe. Sign is canonicalized by flipping so the largest-
   * magnitude loading (ties → lowest dim) is positive. The Rayleigh
   * quotient λ = xᵀCqx / xᵀx and the explained-variance fraction
   * λ/tr(C) use only exact integer quadratic forms with ONE round-6
   * division each.
   *
   * Scale shape: [[coMoments]]'s one corpus scan + d² partial-agg
   * shuffle is the only data-scale work; the d×d matrix then collects
   * to the driver — DIMENSION-bounded, the PQ-codebook / NB-model
   * convention — and the eigensolve runs there in exact BigInt
   * arithmetic, identical to the oracle's unrolled HUGEINT recurrence.
   *
   * @return one row per dimension: (dim, loading round-6 of the
   *         max-abs-1e6 iterate, eigval — the Rayleigh quotient in
   *         cov units, explained — the λ/tr(C) variance fraction,
   *         round-6)
   */
  def principalComponent(embs: DataFrame, iters: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1,100], got $iters")
    // The DISTRIBUTED stage: one corpus scan reduced to the d(d+1)/2
    // exact co-moment rows. The d×d matrix is MODEL-scale (the
    // PQ-codebook / NB-model bounded-collect convention), so the
    // eigensolve itself runs on the driver in exact BigInt arithmetic
    // — an in-plan iteration was measured and rejected: chained
    // cached-frame rounds hit superlinear CacheManager/planning cost
    // by round ~8 even at 64 rows, where the driver matvec is
    // microseconds.
    val (cq, d, tr) = collectCq(embs, "principalComponent")
    pc1Rows(embs.sparkSession, cq, d, tr, iters)
  }

  /** The PC1 eigensolve + rendering shared by [[principalComponent]]
    * and [[principalComponentFromState]]. */
  private def pc1Rows(
      spark: org.apache.spark.sql.SparkSession,
      cq: Array[Array[BigInt]],
      d: Int,
      tr: BigInt,
      iters: Int): DataFrame = {
    val x = powerIterate(cq, d, iters, deflateAgainst = None)
    val flip = canonicalFlip(x, d)
    val (num, den) = rayleigh(cq, x, d)
    // den = 0 iff the iterate collapsed to zero — the all-ones start
    // landed exactly orthogonal to every nonzero eigendirection (a
    // measure-zero corner real embeddings never hit; EdgeCasesSpec
    // constructs it). Loadings are honestly zero; the Rayleigh
    // quotient is 0/0 — emit null rather than NaN.
    val eigval: Option[Double] =
      if (den.signum > 0) Some(r6(dbl(num) / dbl(den) / 1e12)) else None
    val explained: Option[Double] =
      if (den.signum > 0 && tr.signum > 0)
        Some(r6(dbl(num) / (dbl(den) * dbl(tr)))) else None
    import spark.implicits._
    (0 until d).map { j =>
      (j.toLong, dbl(x(j) * flip) / 1e6, eigval, explained)
    }.toDF("dim", "loading", "eigval", "explained")
  }

  private val Micro = BigInt(1000000)

  private def dbl(b: BigInt): Double =
    new java.math.BigDecimal(b.bigInteger).doubleValue()

  private def r6(v: Double): Double =
    java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /**
   * MERGEABLE co-moment STATE — the incremental-PCA form of the Gram
   * kernel (the q61/q166/q175b mergeable-state convention): per (i ≤ j)
   * dimension pair the ADDITIVE exact sums (n_vecs, Σx, Σy, Σxy) in
   * DECIMAL(38,0), WITHOUT the derived co-moment. All four columns sum
   * across disjoint slices to exactly the whole-corpus values, so
   * `pcFromState(mergeCoMomentStates(a, b))` equals the all-at-once
   * [[principalComponent]] bit-for-bit — merge ≡ union by construction,
   * and q214 pins it against q196's oracle VERBATIM. Persist this
   * d²-bounded frame as the daily-pipeline state; each delta pays one
   * corpus scan.
   */
  def coMomentState(embs: DataFrame): DataFrame =
    coMoments(embs)
      .select(col("i"), col("j"), col("n_vecs"),
        col("_sx"), col("_sy"), col("_sxy"))

  /** Merge two [[coMomentState]] frames (one partial-agg exchange over
    * ≤ d² rows) — additive exact sums, any grouping of slices.
    *
    * OVERFLOW BOUND (loud, not silent): the merged lanes re-sum as SQL
    * DECIMAL(38,0), whose domain is |v| < 10³⁸. Components micro-
    * quantize to ×1e6 longs, so a unit-scale corpus contributes ~10¹²
    * per row to the Σxy lane — the merge headroom is therefore ~10²⁶
    * unit-scale rows (10³⁸ / 10¹²) per dimension pair, about 10¹⁴ ×
    * a 100 TB corpus. Past it Spark throws loudly at the merge action
    * (`ARITHMETIC_OVERFLOW` from the decimal sum, or
    * `NUMERIC_VALUE_OUT_OF_RANGE` when the overflow surfaces at the
    * cast — pinned in SimilaritySpec) rather than wrapping or
    * nulling; states that must
    * exceed it should be collected and merged through the driver's
    * BigInt path ([[principalComponentFromState]]'s eigensolve input,
    * which is unbounded). */
  def mergeCoMomentStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("i"), col("j"))
      .agg(sum(col("n_vecs")).as("n_vecs"),
        sum(col("_sx")).cast("decimal(38,0)").as("_sx"),
        sum(col("_sy")).cast("decimal(38,0)").as("_sy"),
        sum(col("_sxy")).cast("decimal(38,0)").as("_sxy"))

  /** [[principalComponent]] over a (possibly merged) [[coMomentState]]
    * — same driver BigInt eigensolve, the co-moment n·Σxy − Σx·Σy
    * derived exactly from the state's sums. */
  def principalComponentFromState(state: DataFrame, iters: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1,100], got $iters")
    val (cq, d, tr) = collectCqRows(
      state.select(col("i"), col("j"), col("n_vecs"),
        (col("n_vecs").cast("decimal(38,0)") * col("_sxy") -
          col("_sx") * col("_sy")).as("_com")).collect(),
      "principalComponentFromState")
    pc1Rows(state.sparkSession, cq, d, tr, iters)
  }

  /** Collect the floor-quantized covariance — sign(com)·(|com| / n²),
    * nonnegative-operand truncation so DuckDB's floor `//` takes the
    * same quotient — as a dense d×d BigInt matrix plus its trace.
    * DIMENSION-bounded (the PQ-codebook / NB-model collect class). */
  private def collectCq(embs: DataFrame, caller: String): (Array[Array[BigInt]], Int, BigInt) = {
    val rows = coMoments(embs)
      .select(col("i"), col("j"), col("n_vecs"), col("_com"))
      .collect()
    collectCqRows(rows, caller)
  }

  private def collectCqRows(
      rows: Array[org.apache.spark.sql.Row],
      caller: String): (Array[Array[BigInt]], Int, BigInt) = {
    require(rows.nonEmpty, s"$caller needs at least one vector")
    val d = rows.iterator.map(_.getLong(1)).max.toInt + 1
    val cq = Array.ofDim[BigInt](d, d)
    var tr = BigInt(0)
    rows.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val n = BigInt(r.getLong(2))
      val com = BigInt(r.getDecimal(3).toBigInteger)
      val v = com.signum * (com.abs / (n * n))
      cq(i)(j) = v; cq(j)(i) = v
      if (i == j) tr += v
    }
    (cq, d, tr)
  }

  /** The exact-integer power recurrence: matvec in BigInt, optional
    * per-round deflation against a fixed direction u (subtract
    * sign-safe ⌊(Σraw·u)·u_j / Σu²⌋ — power iteration on the
    * u-orthogonal complement, up to the documented ±1-ulp floor
    * wobble), then max-abs-1e6 renormalization. */
  private def powerIterate(
      cq: Array[Array[BigInt]],
      d: Int,
      iters: Int,
      deflateAgainst: Option[Array[BigInt]]): Array[BigInt] = {
    val u2 = deflateAgainst.map(u => u.iterator.map(v => v * v).sum)
    var x = Array.fill(d)(Micro)
    for (_ <- 1 to iters) {
      var raw = Array.tabulate(d) { j =>
        var acc = BigInt(0)
        var i = 0
        while (i < d) { acc += cq(i)(j) * x(i); i += 1 }
        acc
      }
      (deflateAgainst, u2) match {
        case (Some(u), Some(uu)) if uu.signum > 0 =>
          var p = BigInt(0)
          var i = 0
          while (i < d) { p += raw(i) * u(i); i += 1 }
          raw = Array.tabulate(d) { j =>
            val dj = p * u(j)
            raw(j) - dj.signum * (dj.abs / uu)
          }
        case _ =>
      }
      val m = raw.iterator.map(_.abs).max
      x = raw.map(r => if (m.signum == 0) BigInt(0)
        else r.signum * (r.abs * Micro / m))
    }
    x
  }

  /** Canonical sign: flip so the largest-|loading| dimension (ties →
    * lowest dim) is positive. */
  private def canonicalFlip(x: Array[BigInt], d: Int): BigInt = {
    val jStar = (0 until d).minBy(j => (-x(j).abs, j))
    if (x(jStar).signum < 0) BigInt(-1) else BigInt(1)
  }

  /** (xᵀCqx, xᵀx) — the exact integer quadratic forms behind the
    * Rayleigh quotient. */
  private def rayleigh(
      cq: Array[Array[BigInt]],
      x: Array[BigInt],
      d: Int): (BigInt, BigInt) = {
    var num = BigInt(0)
    for (i <- 0 until d; j <- 0 until d) num += cq(i)(j) * x(i) * x(j)
    (num, x.iterator.map(v => v * v).sum)
  }

  /**
   * SECOND principal component — DEFLATED power iteration: the same
   * exact-integer recurrence as [[principalComponent]], but each
   * round's matvec is projected off the fitted PC1 direction
   * (sign-safe integer ⌊(y·u)·u / u²⌋ subtraction), so the iterate
   * converges to the dominant direction of the ORTHOGONAL complement.
   * PC1 + PC2 are the axes of the 2-D embedding map every corpus
   * visualization plots; the pair of explained-variance fractions
   * says whether the space is effectively low-rank.
   *
   * Exactness caveat, stated honestly: integer flooring makes the
   * per-round projection orthogonal only to ±1 ulp, so this is the
   * exact answer of a DETERMINISTIC recurrence that approximates PC2
   * (both engines replay it bit-for-bit; the oracle unrolls the same
   * deflated rounds) — the `ortho_cos` column MEASURES the residual
   * alignment with PC1 (≈ 0 when the deflation held). Degenerate
   * inputs (zero matrix, or an iterate the deflation annihilates)
   * emit zero loadings with null eigval.
   *
   * @return (dim, loading, eigval, explained, ortho_cos)
   */
  def principalComponent2(embs: DataFrame, iters: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1,100], got $iters")
    val (cq, d, tr) = collectCq(embs, "principalComponent2")
    val x1 = powerIterate(cq, d, iters, deflateAgainst = None)
    val u = x1.map(_ * canonicalFlip(x1, d))
    val x2 = powerIterate(cq, d, iters, deflateAgainst = Some(u))
    val flip2 = canonicalFlip(x2, d)
    val (num, den) = rayleigh(cq, x2, d)
    val u2 = u.iterator.map(v => v * v).sum
    var dot = BigInt(0)
    for (j <- 0 until d) dot += x2(j) * u(j)
    val eigval: Option[Double] =
      if (den.signum > 0) Some(r6(dbl(num) / dbl(den) / 1e12)) else None
    val explained: Option[Double] =
      if (den.signum > 0 && tr.signum > 0)
        Some(r6(dbl(num) / (dbl(den) * dbl(tr)))) else None
    val orthoCos: Option[Double] =
      if (den.signum > 0 && u2.signum > 0)
        Some(r6(dbl(dot) / (math.sqrt(dbl(den)) * math.sqrt(dbl(u2))))) else None
    val spark = embs.sparkSession
    import spark.implicits._
    (0 until d).map { j =>
      (j.toLong, dbl(x2(j) * flip2) / 1e6, eigval, explained, orthoCos)
    }.toDF("dim", "loading", "eigval", "explained", "ortho_cos")
  }

  /**
   * PC PROJECTION — score every vector against the fitted
   * [[principalComponent]]: the exact integer dot of the
   * micro-quantized embedding with the sign-flipped micro component,
   * plus the cosine alignment. THE per-row readout of the PCA audit:
   * the high-|cos| tail is the set of vectors living on the dominant
   * axis (the length-bias / systematic-artifact suspects), and
   * subtracting proj·PC is the debiasing step this scores.
   *
   * Determinism: the fit is [[principalComponent]]'s exact recurrence;
   * the transform is Σ eᵢ_micro · xᵢ_micro per row — exact longs (≤
   * d·1e12) — with ONE round-6 division for each output. Zero-norm
   * rows (or a degenerate zero component) emit null cos.
   *
   * Scale shape: fit = one co-moment scan + the driver eigensolve;
   * transform = one MAP-ONLY pass with the d-element component as a
   * plan literal (zip_with/aggregate, no join, no shuffle). Two
   * corpus scans total — persist upstream if that matters.
   *
   * @return (vec_id, proj — e·x in max-norm-1 units, cos) per vector
   */
  def pcProjection(embs: DataFrame, iters: Int = 20): DataFrame = {
    val pc = principalComponent(embs, iters).orderBy(col("dim")).collect()
    // loadings are exactly x·flip/1e6 (≤ 6 decimals): micro recovery
    // via Math.round is exact
    val xm = pc.map(r => Math.round(r.getDouble(1) * 1e6))
    val xn2 = xm.map(v => v * v).sum
    val xArr = typedLit(xm.toSeq)
    val em = transform(asDouble(col("embedding")),
      v => round(v * 1e6).cast("long"))
    embs.select(col("vec_id"), em.as("_em"))
      .withColumn("_p",
        aggregate(zip_with(col("_em"), xArr, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v))
      .withColumn("_ne2",
        aggregate(col("_em"), lit(0L), (acc, v) => acc + v * v))
      .select(col("vec_id"),
        (round(col("_p").cast("double") / 1e12, 6) + 0.0).as("proj"),
        when(col("_ne2") > 0 && lit(xn2) > 0,
          round(col("_p").cast("double") /
            (sqrt(col("_ne2").cast("double")) * sqrt(lit(xn2.toDouble))), 6)
            + 0.0).as("cos"))
  }

  /**
   * MATRYOSHKA (prefix-dimension) top-k — exact cosine ranking over
   * only the FIRST `dims` components of every embedding. MRL-trained
   * encoders (Kusupati et al. 2022) concentrate information in the
   * vector prefix precisely so retrieval can run at a fraction of the
   * dimension budget; this is that cheap tier, and its recall against
   * the full-dimension ranking (the q99c-style contract in the
   * registry) MEASURES whether a given corpus's embeddings actually
   * have the Matryoshka property — run it before buying the 4×
   * scan-cost reduction.
   *
   * Scale shape: identical to [[cosineTopK]] (broadcast queries, one
   * corpus scan, per-query TakeOrdered) — but each dot product reads
   * `dims` of d components, and at 100 TB the truncated corpus column
   * is what you'd materialize (d/dims × less I/O off parquet).
   *
   * @return (q_vec_id, n_vec_id, cos, rank) — cos over the prefix
   */
  def matryoshkaTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    def trunc(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        slice(asDouble(col("embedding")), 1, dims).as("embedding"))
    cosineTopK(trunc(corpus), trunc(queries), k)
  }
}
