package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Layout, Rank, Search, Similarity, TfIdf}
import graft.sources.Corpus

/** Shared loaders, oracle-SQL fragment builders, and the flagship
  * entry used by every per-domain query module (split out of the
  * former 9k-line SparkEntry so a change to one query family no
  * longer touches one giant file). All members are package-wide:
  * the modules import `EntryShared._` and the entry text is the
  * byte-identical text that lived in SparkEntry. */
private[graft] object EntryShared {

  /** SCALE-ADAPTIVE scan spread (optimization guide §2.5 "input skew —
    * one huge unsplittable file … repartition immediately after the
    * read", applied to the small-file end of the same problem): a
    * single-row-group parquet corpus scans as ONE task, so every
    * per-row-heavy chain above the first exchange (tokenize → md5 →
    * shingle explode, sign-bit signatures, the declared all-pairs
    * verification joins whose stream side is the scan) runs on one of
    * the N cores while N−1 idle. When the scan's split count is below
    * the cluster's parallelism, round-robin repartition to it —
    * deterministic under retries (Spark's sort-before-repartition),
    * answer-invariant (re-verified against the full 298-query oracle),
    * key-free so column pruning at the scan is untouched, and the
    * shuffled bytes are exactly the under-split input, i.e. small by
    * construction. At production scale the scan already yields ≥ cores
    * splits and this is the identity — the decision derives from the
    * input, not from a local[32] tune. */
  private[graft] def spread(df: DataFrame): DataFrame = spread(df, heavy = true)

  /** `heavy = false` marks a consumer whose chain above the first
    * exchange is CHEAP per row (a plain aggregate / map-only projection):
    * fanning those to full cluster width only adds task and shuffle-block
    * overhead (guide §2.2 — more, smaller blocks), which the r13 driver
    * bench measured as 2–20× slowdowns on the light text family at 32
    * cores. Heavy consumers (per-row md5/shingle explode chains, the
    * all-pairs verify joins whose stream side is the scan) keep the full
    * fan. Env-parameterised (`SPARK_GRAFT_SPREAD=off|light|auto`) so the
    * fan-out attribution stays measurable in isolation. */
  private[graft] def spread(df: DataFrame, heavy: Boolean): DataFrame = {
    val mode = sys.env.getOrElse("SPARK_GRAFT_SPREAD", "auto")
    if (mode == "off" || (!heavy && mode != "all")) df
    else {
      val cores = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions * 2 < cores) df.repartition(cores)
      else df
    }
  }

  /** documents.parquet normalized to the engine's (doc, line) corpus shape;
    * doc keeps its bigint type (operators are doc-type agnostic). */
  private[graft] def docs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir, heavy = true)

  /** `heavy = false`: this consumer's pre-exchange work is cheap per
    * row — skip the scan spread (see [[spread]]). */
  private[graft] def docs(spark: SparkSession, dir: String, heavy: Boolean): DataFrame =
    spread(Corpus.parquet(spark, s"$dir/documents.parquet")
      .select(col("doc_id").as("doc"), col("text").as("line")), heavy)

  private[graft] def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    tbl(spark, dir, name, heavy = true)

  private[graft] def tbl(
      spark: SparkSession, dir: String, name: String, heavy: Boolean): DataFrame = {
    val raw = Corpus.parquet(spark, s"$dir/$name.parquet")
    // the two per-row-heavy corpora ride the spread; the relational /
    // event tables shuffle at their first aggregate anyway
    name match {
      case "documents" | "embeddings" => spread(raw, heavy)
      case _ => raw
    }
  }

  /** Scratch directory for a per-query ANN index build, removed by a
    * JVM shutdown hook. Fresh per invocation ON PURPOSE (a reused
    * deterministic path would carry generations/tombstones across runs
    * and trip the lifecycle guards), but the returned DataFrame reads
    * the index LAZILY — the driver executes it after the query lambda
    * returns — so an eager delete would break the query. The hook
    * bounds the leak to the life of the run: verify/bench loops stop
    * accumulating full index copies under java.io.tmpdir across runs. */
  private[graft] def tempIndexDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        import java.nio.file.Files
        if (Files.exists(dir)) {
          val walk = Files.walk(dir)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
      } catch { case _: java.io.IOException => () }
    }))
    dir.toString
  }

  /** events.parquet loader, robust to the fixture's TIMESTAMP unit.
    *
    * The fixture has shipped with both TIMESTAMP(MICROS) (which Spark
    * reads natively) and TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects at schema inference). Branch on what the footer
    * actually says instead of assuming a unit: open the file once, and
    * if schema inference succeeds and `ts` is a native TimestampType,
    * that frame is the read; only when inference throws (the NANOS
    * case) fall back to an explicit
    * LongType schema over the physical int64 and truncate ns → µs —
    * the same truncation DuckDB applies, so both engines see identical
    * ts either way. FixtureSpec additionally pins the decoded range
    * (min ts year ≥ 2000) so a silent fixture regeneration with a new
    * unit fails the suite loudly rather than corrupting 12 oracles. */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"$dir/events.parquet"
    val natural =
      try {
        val df = Corpus.parquet(spark, path)
        df.schema("ts").dataType match {
          case TimestampType | TimestampNTZType => Some(df) // MICROS/MILLIS
          case _ => None // plain int64: historic nanos encoding
        }
      } catch { case _: Exception => None } // NANOS: inference itself throws
    natural match {
      // normalize NTZ → TimestampType (value-preserving under the UTC
      // session) so every downstream timestamp function sees the same
      // type whichever annotation the fixture carries
      case Some(df) => df.withColumn("ts", col("ts").cast(TimestampType))
      case None =>
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        spark.read
          .schema(schema)
          .parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  /** Test hook: the events loader, exposed so FixtureSpec can pin the
    * decoded-timestamp sanity range against whatever unit the fixture
    * carries (the round-4 silent-regeneration regression). */
  private[graft] def eventsForTest(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)

  /** Fixed search query for q6/q7 (terms present in the synthetic corpus). */
  val SearchQuery = "spark stream window"

  /** Tokenized corpus with oracle column names. */
  private[graft] def tokens(spark: SparkSession, dir: String): DataFrame =
    TfIdf.tokenize(docs(spark, dir)).select(col("doc").as("doc_id"), col("term"))

  /** Flagship query on sf0.001 — full search+rank pipeline; rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = docs(spark, "/root/testdata/sf0.001")
    Rank.rank(Search.search(d, SearchQuery))
  }

  // ---------------------------------------------------------------------
  // Shared SQL fragments for the oracle (DuckDB dialect).
  // ---------------------------------------------------------------------
  private[graft] val TokCte =
    """tok AS (
      |  SELECT doc_id, term FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term
      |    FROM documents) WHERE term <> ''
      |)""".stripMargin

  /** Word-3-gram shingle CTEs (dedup tier) over a given source relation.
    * Distinct shingles per doc + per-doc shingle counts. */
  /** Shingle CTE family (tokl/sh/sz), CTE names suffixed so two corpora
    * (e.g. delta vs history in q52) can coexist in one oracle query. */
  private[graft] def shingleCtesSfx(src: String, sfx: String): String =
    s"""tokl$sfx AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
      |  FROM $src),
      |sh$sfx AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
      |    FROM tokl$sfx)),
      |sz$sfx AS (SELECT doc_id, count(*) AS sz FROM sh$sfx GROUP BY 1)""".stripMargin

  private[graft] def shingleCtesFrom(src: String): String = shingleCtesSfx(src, "")

  private[graft] val ShingleCtes = shingleCtesFrom("documents")

  /** Weighted-Jaccard tier CTEs: unigram tf vectors (tfw), per-doc
    * weight totals (wtot), and the `term#i` weighted-element expansion
    * named `shw` so the minhash CTE family composes via sfx "w" —
    * DuckDB replica of `Dedup.termWeights`/`weightedElems`. */
  private[graft] val WeightedCtes =
    s"""$TokCte,
       |tfw AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |wtot AS (SELECT doc_id, sum(tf) AS tot FROM tfw GROUP BY 1),
       |shw AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(least(tf, ${Dedup.MaxElemTf})),
       |                i -> term || '#' || i::VARCHAR)) AS shingle
       |  FROM tfw)""".stripMargin

  /** Guarded LSH candidate-pair CTEs (bok/cand) over a `bands` CTE —
    * the DuckDB replica of `Dedup.lshCandidates`, shared by the
    * weighted-near-dup oracles. */
  private[graft] val LshCandCtes =
    s"""bok AS (
       |  SELECT band, band_val FROM bands GROUP BY 1, 2
       |  HAVING count(*) <= ${Dedup.MaxPairBucket}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |  JOIN bok ON a.band = bok.band AND a.band_val = bok.band_val)""".stripMargin

  /**
   * Seeded 3-doc near-dup chain for the q28b transitive-closure
   * contract, found by searching the MinHash band family directly: doc
   * 1000003 (the BRIDGE, deliberately the largest id) shares an LSH band
   * with each of 1000001 and 1000002, which share none with each other.
   * One-hop `minhashDedup` therefore keeps {1000001, 1000002} (two
   * survivors of one transitive cluster); the iterated closure keeps
   * only 1000001. Vocabulary is disjoint from the synthetic corpus so
   * the chain can't collide with real buckets.
   */
  val ChainDocs: Seq[(Long, String)] = Seq(
    1000001L -> ("zqft zqho zqfs zqeq zqds zqdl zqcn zqit zqjo zqbk zqhn zqjp " +
      "zqgr zqgn zqen zqfr zqdq zqhr zqat zqbp zqgp zqfn zqcl zqip zqbt zqgm " +
      "zqhs zqap zqil zqek zqhq zqeo zqiq zqjr zqas zqbl zqdo zqdk zqgs zqem"),
    1000002L -> ("zqgp zqfn zqcl zqip zqbt zqgm zqhs zqap zqil zqek zqhq zqeo " +
      "zqiq zqjr zqas zqbl zqdo zqdk zqgs zqem zqao zqan zqjq zqgl zqhp zqel " +
      "zqin zqgt zqcs zqbs zqep zqco zqgk zqcm zqal zqct zqio zqjk zqdt zqar"),
    1000003L -> ("zqhn zqjp zqgr zqgn zqen zqfr zqdq zqhr zqat zqbp zqgp zqfn " +
      "zqcl zqip zqbt zqgm zqhs zqap zqil zqek zqhq zqeo zqiq zqjr zqas zqbl " +
      "zqdo zqdk zqgs zqem zqao zqan zqjq zqgl zqhp zqel zqin zqgt zqcs zqbs"))

  private[graft] def chainValuesSql: String =
    ChainDocs.map { case (id, text) => s"($id, '$text')" }.mkString(",\n         ")

  /** Unrolled min-label propagation iterations for the q28b oracle —
    * generated from the same iteration count as the Scala loop, so the
    * two sides stay in lockstep by construction. */
  private[graft] def minLabelIterSql(iters: Int): String =
    (1 to iters).map { i =>
      s"""bm$i AS (
         |  SELECT band, band_val, min(lbl) AS bm
         |  FROM bands JOIN l${i - 1} USING (doc_id) GROUP BY 1, 2),
         |l$i AS (
         |  SELECT b.doc_id, least(min(p.lbl), min(bm)) AS lbl
         |  FROM bands b
         |  JOIN bm$i USING (band, band_val)
         |  JOIN l${i - 1} p ON b.doc_id = p.doc_id
         |  GROUP BY b.doc_id)""".stripMargin
    }.mkString(",\n")

  /** Unrolled Lloyd k-means iterations for the q54/q55 oracles —
    * generated from the same stride/iteration count as
    * `Clustering.kmeans`, so the two sides stay in lockstep by
    * construction: stride-sampled seeds, per-vector argmax-cosine
    * assignment (ties to the smallest centroid id), element-wise means
    * rounded to 6 decimals. Ends with `af` = the final assignment
    * (vec_id, cell) over `n` = the normalized corpus. */
  private[graft] def kmeansCtesSql(stride: Int, iters: Int): String = {
    def assign(name: String, centCte: String): String =
      s"""$name AS (
         |  SELECT vec_id, cent AS cell FROM (
         |    SELECT n.vec_id, c.cent,
         |           row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |             list_dot_product(n.emb, c.cemb) / (n.nrm * c.cnrm)
         |               DESC, c.cent) AS rn
         |    FROM n CROSS JOIN $centCte c) WHERE rn = 1)""".stripMargin
    val base =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
         |n AS (SELECT vec_id, emb, label,
         |             sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
         |c0 AS (SELECT vec_id AS cent, emb AS cemb, nrm AS cnrm
         |       FROM n WHERE vec_id % $stride = 0)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""${assign(s"a$i", s"c${i - 1}")},
         |c$i AS (
         |  SELECT cell AS cent, cemb,
         |         sqrt(list_dot_product(cemb, cemb)) AS cnrm FROM (
         |    SELECT cell, list(m ORDER BY p) AS cemb FROM (
         |      SELECT a.cell, p, round(avg(n.emb[p::INTEGER]), 6) AS m
         |      FROM a$i a JOIN n USING (vec_id),
         |           unnest(range(1, len(n.emb) + 1)) r(p)
         |      GROUP BY a.cell, p)
         |    GROUP BY cell))""".stripMargin
    }
    (Seq(base) ++ steps :+ assign("af", s"c$iters")).mkString(",\n")
  }

  /** DuckDB replica of `Dedup.minhashSignatures`' two-seed family: one md5
    * per shingle, b1/b2 = the first/second 8 hex digits as 32-bit ints,
    * m_k = min((b1 + (k+1)·b2) mod P) — generated so the oracle stays in
    * lockstep with the Scala constants. */
  private[graft] def minhashSigCteSfx(sfx: String, numHashes: Int = 16): String = {
    def hex8(off: Int): String =
      "list_sum(list_transform(range(1, 9), i -> " +
        s"(strpos('0123456789abcdef', substr(h, (i + $off)::INTEGER, 1)) - 1)::BIGINT" +
        " << ((8 - i)::INTEGER * 4)))"
    val mins = (0 until numHashes)
      .map(k => s"min((b1 + ${k + 1} * b2) % ${Dedup.MinhashPrime}) AS m$k")
      .mkString(",\n         ")
    s"""sig$sfx AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM (SELECT doc_id, ${hex8(0)} AS b1, ${hex8(8)} AS b2
       |        FROM (SELECT doc_id, md5(shingle) AS h FROM sh$sfx))
       |  GROUP BY doc_id)""".stripMargin
  }

  private[graft] val MinhashSigCte: String = minhashSigCteSfx("")

  /** DuckDB replica of `Dedup.lshBands` over the wide signature row: 4
    * bands of 4 minima, band_val = comma-joined decimal minima. */
  private[graft] def minhashBandsSqlSfx(sfx: String): String =
    (0 until 4).map { b =>
      val concat = (0 until 4).map(i => s"m${b * 4 + i}::VARCHAR").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $concat AS band_val FROM sig$sfx"
    }.mkString("\n  UNION ALL ")

  private[graft] val MinhashBandsSql: String = minhashBandsSqlSfx("")

  /** Matching-minima count between signature rows `s1`/`s2` (the
    * Broder Jaccard estimator's numerator), over the 16-hash family. */
  private[graft] def sigMatchSql: String = sigMatchSqlRange(0, 16)

  /** Matching-minima count over a half-open hash index range — the
    * hold-out estimator (q147b) matches only the non-banding minima. */
  private[graft] def sigMatchSqlRange(from: Int, until: Int): String =
    (from until until).map(k => s"CASE WHEN s1.m$k = s2.m$k THEN 1 ELSE 0 END")
      .mkString(" + ")

  /** DuckDB replica of the PQ chain (`Similarity.pqEncode`): stride-
    * sampled codebooks, per-subspace rounded-L2 argmin codes — generated
    * from the SAME constants as the engine, so the two sides cannot
    * drift. Ends with `codes` = (vec_id, s, j). */
  private[graft] def pqCtes: String = {
    val m = Similarity.PqM; val sd = Similarity.PqSubDim
    val k = Similarity.PqK; val st = Similarity.PqStride
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |cb AS (
       |  SELECT s, (vec_id // $st) AS j,
       |         list_slice(emb, (s * $sd + 1)::INTEGER, (s * $sd + $sd)::INTEGER) AS c
       |  FROM e CROSS JOIN range($m) r(s)
       |  WHERE vec_id % $st = 0 AND vec_id < ${k.toLong * st}),
       |sub AS (
       |  SELECT vec_id, s,
       |         list_slice(emb, (s * $sd + 1)::INTEGER, (s * $sd + $sd)::INTEGER) AS v
       |  FROM e CROSS JOIN range($m) r(s)),
       |dist AS (
       |  SELECT vec_id, sub.s, cb.j,
       |         round(list_dot_product(v, v) + list_dot_product(c, c)
       |               - 2 * list_dot_product(v, c), 6) AS l2
       |  FROM sub JOIN cb ON sub.s = cb.s),
       |codes AS (
       |  SELECT vec_id, s, j FROM (
       |    SELECT vec_id, s, j,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY l2, j) AS rn
       |    FROM dist) WHERE rn = 1)""".stripMargin
  }

  /** Per-query ADC lookup table over the codebook (queries vec_id < 5),
    * on top of [[pqCtes]]. */
  private[graft] def pqLutCte: String = {
    val sd = Similarity.PqSubDim
    s"""lut AS (
       |  SELECT q.vec_id AS q_vec_id, cb.s, cb.j,
       |         list_dot_product(
       |           list_slice(q.emb, (cb.s * $sd + 1)::INTEGER,
       |                      (cb.s * $sd + $sd)::INTEGER), cb.c) AS v
       |  FROM (SELECT * FROM e WHERE vec_id < 5) q CROSS JOIN cb)""".stripMargin
  }

  /** ADC scoring CTEs on top of [[pqCtes]]: per-query LUT over the
    * codebook + the summed table-pick score per (query, vector). */
  private[graft] def pqAdcCtes: String =
    s"""$pqLutCte,
       |adc AS (
       |  SELECT l.q_vec_id, cd.vec_id AS n_vec_id, round(sum(l.v), 6) AS adc
       |  FROM codes cd
       |  JOIN lut l ON l.s = cd.s AND l.j = cd.j AND l.q_vec_id <> cd.vec_id
       |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB replica of the image aHash (`Multimodal.imageAHash`): the
    * encoder rasterizes text chars as gray pixels (q144's contract), so
    * the oracle rebuilds every bucket sum/count from ord() and compares
    * the exact cross-products — ends with `hs` = (doc_id, w, ahash). */
  private[graft] def ahashCtes: String =
    """img AS (
      |  SELECT doc_id, length(text)::BIGINT AS w,
      |         list_transform(range(1, length(text) + 1),
      |                        i -> ord(substr(text, i::INTEGER, 1))::BIGINT) AS g
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT doc_id, w, unnest(range(0, w)) AS i0, g FROM img),
      |bk AS (
      |  SELECT doc_id, w, (i0 * 56) // w AS j,
      |         sum(g[(i0 + 1)::INTEGER])::BIGINT AS bsum,
      |         count(*)::BIGINT AS bcnt
      |  FROM px GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, sum(bsum)::BIGINT AS total FROM bk GROUP BY 1),
      |hs AS (
      |  SELECT i.doc_id, i.w,
      |         coalesce((
      |           SELECT sum(CASE WHEN b.bsum * b.w >= t.total * b.bcnt
      |                           THEN (1::BIGINT << b.j::INTEGER)
      |                           ELSE 0 END)
      |           FROM bk b JOIN tot t ON b.doc_id = t.doc_id
      |           WHERE b.doc_id = i.doc_id), 0)::BIGINT AS ahash
      |  FROM img i)""".stripMargin

  /** DuckDB replica of the audio energy-envelope aHash
    * (`Multimodal.audioAHash`): the 56-bucket exact mean-threshold
    * rule over |int16 PCM| values rebuilt from the text the encoder
    * sampled — sample_i = (ord(c_i) − 110)·200, energy = |sample|.
    * Ends with `hs` = (doc_id, n, ahash) over audio docs
    * (doc_id % 3 = 1). */
  private[graft] def audioAhashCtes: String =
    """aud AS (
      |  SELECT doc_id, length(text)::BIGINT AS n,
      |         list_transform(range(1, length(text) + 1),
      |                        i -> (abs(ord(substr(text, i::INTEGER, 1)) - 110)
      |                              * 200)::BIGINT) AS g
      |  FROM documents WHERE doc_id % 3 = 1),
      |sp AS (
      |  SELECT doc_id, n, unnest(range(0, n)) AS i0, g FROM aud),
      |bk AS (
      |  SELECT doc_id, n, (i0 * 56) // n AS j,
      |         sum(g[(i0 + 1)::INTEGER])::BIGINT AS bsum,
      |         count(*)::BIGINT AS bcnt
      |  FROM sp GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, sum(bsum)::BIGINT AS total FROM bk GROUP BY 1),
      |hs AS (
      |  SELECT a.doc_id, a.n,
      |         coalesce((
      |           SELECT sum(CASE WHEN b.bsum * b.n >= t.total * b.bcnt
      |                           THEN (1::BIGINT << b.j::INTEGER)
      |                           ELSE 0 END)
      |           FROM bk b JOIN tot t ON b.doc_id = t.doc_id
      |           WHERE b.doc_id = a.doc_id), 0)::BIGINT AS ahash
      |  FROM aud a)""".stripMargin

  /** DuckDB replica of the keyframe-sampled video aHash
    * (`Multimodal.videoAHash`, everyNth = 2): every second frame's
    * 8 luma bytes (chars f·12+1 … f·12+8 of the text the encoder
    * framed), concatenated and folded through the same 56-bucket
    * rule. Ends with `hs` = (doc_id, nf, nsf, n, ahash) over video
    * docs (doc_id % 3 = 2). */
  private[graft] def videoAhashCtes: String =
    """vid AS (
      |  SELECT doc_id, (length(text) // 12)::BIGINT AS nf,
      |         flatten(list_transform(range(0, length(text) // 12, 2),
      |           f -> list_transform(range(0, 8),
      |             k -> ord(substr(text, (f * 12 + k + 1)::INTEGER, 1))::BIGINT)))
      |           AS g
      |  FROM documents WHERE doc_id % 3 = 2),
      |vz AS (
      |  SELECT doc_id, nf, ((nf + 1) // 2)::BIGINT AS nsf,
      |         len(g)::BIGINT AS n, g
      |  FROM vid),
      |sp AS (
      |  SELECT doc_id, n, unnest(range(0, n)) AS i0, g FROM vz),
      |bk AS (
      |  SELECT doc_id, n, (i0 * 56) // n AS j,
      |         sum(g[(i0 + 1)::INTEGER])::BIGINT AS bsum,
      |         count(*)::BIGINT AS bcnt
      |  FROM sp GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, sum(bsum)::BIGINT AS total FROM bk GROUP BY 1),
      |hs AS (
      |  SELECT v.doc_id, v.nf, v.nsf, v.n,
      |         coalesce((
      |           SELECT sum(CASE WHEN b.bsum * b.n >= t.total * b.bcnt
      |                           THEN (1::BIGINT << b.j::INTEGER)
      |                           ELSE 0 END)
      |           FROM bk b JOIN tot t ON b.doc_id = t.doc_id
      |           WHERE b.doc_id = v.doc_id), 0)::BIGINT AS ahash
      |  FROM vz v)""".stripMargin

  /** DuckDB replica of the WINDOWED audio aHash
    * (`Multimodal.audioAHashWindows`, windowSamples = 64): the energy
    * sequence splits into fixed 64-sample spans (trailing partial
    * included) and each span folds through the 56-bucket rule with
    * WINDOW-LOCAL positions and length. Ends with `hs` =
    * (doc_id, w_id, wn, ahash) over audio docs. */
  private[graft] def audioWindowCtes: String =
    """aud AS (
      |  SELECT doc_id, length(text)::BIGINT AS n,
      |         list_transform(range(1, length(text) + 1),
      |                        i -> (abs(ord(substr(text, i::INTEGER, 1)) - 110)
      |                              * 200)::BIGINT) AS g
      |  FROM documents WHERE doc_id % 3 = 1),
      |sp AS (
      |  SELECT doc_id, n, unnest(range(0, n)) AS i0, g FROM aud),
      |wv AS (
      |  SELECT doc_id, i0 // 64 AS w_id, i0 % 64 AS il,
      |         least(64, n - (i0 // 64) * 64) AS wn,
      |         g[(i0 + 1)::INTEGER] AS v
      |  FROM sp),
      |bk AS (
      |  SELECT doc_id, w_id, wn, (il * 56) // wn AS j,
      |         sum(v)::BIGINT AS bsum, count(*)::BIGINT AS bcnt
      |  FROM wv GROUP BY 1, 2, 3, 4),
      |tot AS (
      |  SELECT doc_id, w_id, sum(bsum)::BIGINT AS total
      |  FROM bk GROUP BY 1, 2),
      |hs AS (
      |  SELECT b.doc_id, b.w_id, b.wn,
      |         sum(CASE WHEN b.bsum * b.wn >= t.total * b.bcnt
      |                  THEN (1::BIGINT << b.j::INTEGER) ELSE 0 END)::BIGINT
      |           AS ahash
      |  FROM bk b JOIN tot t ON b.doc_id = t.doc_id AND b.w_id = t.w_id
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** DuckDB replica of the SEGMENTED video aHash
    * (`Multimodal.videoAHashSegments`, segmentFrames = 4,
    * everyNth = 2): the sampled luma stream (8 bytes per kept frame)
    * splits into 32-value segments (4 sampled frames each, trailing
    * partial included), each folded with SEGMENT-LOCAL positions and
    * length. Ends with `hs` = (doc_id, seg_id, nsf, ahash) over video
    * docs with ≥ 1 frame. */
  private[graft] def videoSegmentCtes: String =
    """vid AS (
      |  SELECT doc_id,
      |         flatten(list_transform(range(0, length(text) // 12, 2),
      |           f -> list_transform(range(0, 8),
      |             k -> ord(substr(text, (f * 12 + k + 1)::INTEGER, 1))::BIGINT)))
      |           AS g
      |  FROM documents WHERE doc_id % 3 = 2),
      |sp AS (
      |  SELECT doc_id, len(g)::BIGINT AS n, unnest(range(0, len(g))) AS i0, g
      |  FROM vid WHERE len(g) > 0),
      |sg AS (
      |  SELECT doc_id, i0 // 32 AS seg_id, i0 % 32 AS il,
      |         least(32, n - (i0 // 32) * 32) AS sn,
      |         g[(i0 + 1)::INTEGER] AS v
      |  FROM sp),
      |bk AS (
      |  SELECT doc_id, seg_id, sn, (il * 56) // sn AS j,
      |         sum(v)::BIGINT AS bsum, count(*)::BIGINT AS bcnt
      |  FROM sg GROUP BY 1, 2, 3, 4),
      |tot AS (
      |  SELECT doc_id, seg_id, sum(bsum)::BIGINT AS total
      |  FROM bk GROUP BY 1, 2),
      |hs AS (
      |  SELECT b.doc_id, b.seg_id, (b.sn // 8)::BIGINT AS nsf,
      |         sum(CASE WHEN b.bsum * b.sn >= t.total * b.bcnt
      |                  THEN (1::BIGINT << b.j::INTEGER) ELSE 0 END)::BIGINT
      |           AS ahash
      |  FROM bk b JOIN tot t ON b.doc_id = t.doc_id AND b.seg_id = t.seg_id
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** DuckDB replica of the OVERLAPPING-window audio aHash
    * (`Multimodal.audioAHashWindows`, windowSamples = 64,
    * strideSamples = 32): window w covers samples
    * [w·32, min(w·32 + 64, n)) — every sample sits in up to two
    * windows; window-LOCAL positions and length feed the 56-bucket
    * rule. Ends with `hs` = (doc_id, w_id, wn, ahash). */
  private[graft] def audioWindowStrideCtes: String =
    """aud AS (
      |  SELECT doc_id, length(text)::BIGINT AS n,
      |         list_transform(range(1, length(text) + 1),
      |                        i -> (abs(ord(substr(text, i::INTEGER, 1)) - 110)
      |                              * 200)::BIGINT) AS g
      |  FROM documents WHERE doc_id % 3 = 1),
      |wd AS (
      |  SELECT doc_id, n, unnest(range(0, (n + 31) // 32)) AS w_id, g
      |  FROM aud),
      |wv AS (
      |  SELECT doc_id, w_id,
      |         least(w_id * 32 + 64, n) - w_id * 32 AS wn,
      |         unnest(range(w_id * 32, least(w_id * 32 + 64, n))) AS i0, g
      |  FROM wd),
      |bk AS (
      |  SELECT doc_id, w_id, wn, ((i0 - w_id * 32) * 56) // wn AS j,
      |         sum(g[(i0 + 1)::INTEGER])::BIGINT AS bsum,
      |         count(*)::BIGINT AS bcnt
      |  FROM wv GROUP BY 1, 2, 3, 4),
      |tot AS (
      |  SELECT doc_id, w_id, sum(bsum)::BIGINT AS total
      |  FROM bk GROUP BY 1, 2),
      |hs AS (
      |  SELECT b.doc_id, b.w_id, b.wn,
      |         sum(CASE WHEN b.bsum * b.wn >= t.total * b.bcnt
      |                  THEN (1::BIGINT << b.j::INTEGER) ELSE 0 END)::BIGINT
      |           AS ahash
      |  FROM bk b JOIN tot t ON b.doc_id = t.doc_id AND b.w_id = t.w_id
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** Brute-force window-pair rollup shared by the q220b/q221b mirrors:
    * cross-asset window pairs within hamming ≤ 6 grouped to
    * (d1, d2, min_hamming, n_window_hits) — what the banded engine
    * must reproduce exactly (pigeonhole + no hot buckets at sf0.01). */
  private[graft] def windowPairRollupSql: String = windowPairRollupSqlAt(6)

  /** The q220b rollup at an explicit Hamming bound (q227 reuses it at
    * the 4-band pigeonhole threshold 3). */
  private[graft] def windowPairRollupSqlAt(maxDist: Int): String =
    s"""pr AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |         bit_count(xor(a.ahash, b.ahash))::BIGINT AS hamming
      |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= $maxDist)
      |SELECT d1, d2, min(hamming)::BIGINT AS min_hamming,
      |       count(*)::BIGINT AS n_window_hits
      |FROM pr GROUP BY 1, 2 ORDER BY d1, d2""".stripMargin

  /** DuckDB replica of the int8 chain (`Similarity.quantizeInt8` +
    * `int8SdcTopK` per-vector stats): affine byte codes with the
    * explicit +0.5-then-floor, Σq / Σq² as BIGINTs, and the SDC score
    * CTE — the double expressions replay the engine's operation order
    * verbatim. Ends with `sdc` = (q_vec_id, n_vec_id, cos_sdc),
    * queries = vec_id < 5. */
  private[graft] def int8Ctes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |qz AS (
      |  SELECT vec_id, list_min(emb) AS mn,
      |         (list_max(emb) - list_min(emb)) / 255.0 AS sc,
      |         len(emb)::BIGINT AS d,
      |         CASE WHEN (list_max(emb) - list_min(emb)) / 255.0 = 0
      |              THEN list_transform(emb, x -> 0)
      |              ELSE list_transform(emb, x -> least(greatest(
      |                floor((x - list_min(emb)) /
      |                      ((list_max(emb) - list_min(emb)) / 255.0) + 0.5),
      |                0), 255)::INTEGER)
      |         END AS q
      |  FROM e),
      |st AS (
      |  SELECT vec_id, mn, sc, d, q,
      |         list_sum(list_transform(q, x -> x::BIGINT))::BIGINT AS sq,
      |         list_sum(list_transform(q, x -> (x * x)::BIGINT))::BIGINT AS qq
      |  FROM qz),
      |sdc AS (
      |  SELECT q_vec_id, n_vec_id,
      |         CASE WHEN nq > 0 AND nn > 0
      |              THEN round(ip / (sqrt(nq) * sqrt(nn)), 6) END AS cos_sdc
      |  FROM (
      |    SELECT a.vec_id AS q_vec_id, b.vec_id AS n_vec_id,
      |           a.mn * b.mn * b.d + a.mn * b.sc * b.sq +
      |             b.mn * a.sc * a.sq + a.sc * b.sc *
      |             list_sum(list_transform(list_zip(a.q, b.q),
      |               p -> (p[1] * p[2])::BIGINT))::BIGINT AS ip,
      |           a.mn * a.mn * a.d + 2.0 * a.mn * a.sc * a.sq +
      |             a.sc * a.sc * a.qq AS nq,
      |           b.mn * b.mn * b.d + 2.0 * b.mn * b.sc * b.sq +
      |             b.sc * b.sc * b.qq AS nn
      |    FROM (SELECT * FROM st WHERE vec_id < 5) a
      |    JOIN st b ON a.vec_id <> b.vec_id))""".stripMargin

  /** DuckDB replica of `Similarity.signRow`'s hyperplane family: sign_j of
    * hyperplane `h` = +1 iff hex digit (j mod 16) of md5("h:j") ≥ '8'.
    * Returns the dot product of `emb` with hyperplane `hExpr` — both
    * engines derive the matrix from the same md5 strings, so bucket bits
    * agree bit-for-bit. */
  private[graft] def duckSignDot(hExpr: String, embExpr: String): String =
    s"list_sum(list_transform(range(0, len($embExpr)), j -> " +
      s"$embExpr[(j + 1)::INTEGER] * " +
      s"(CASE WHEN substr(md5(($hExpr)::VARCHAR || ':' || j::VARCHAR), " +
      s"((j % 16) + 1)::INTEGER, 1) >= '8' THEN 1.0 ELSE -1.0 END)))"

  /** `bits`-wide tf-weighted SimHash fingerprint CTE chain (→ `fp`),
    * mirroring `Dedup.simhash(docs, bits)`. */
  private[graft] def simhashCtes(bits: Int): String =
    s"""$TokCte,
       |cnt AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
       |bits AS (
       |  SELECT doc_id, p,
       |         CASE WHEN sum(CASE WHEN substr(md5(term), p::INTEGER, 1) >= '8'
       |                            THEN c ELSE -c END) > 0
       |              THEN (1::BIGINT << (p::INTEGER - 1)) ELSE 0 END AS bit
       |  FROM cnt CROSS JOIN range(1, ${bits + 1}) r(p) GROUP BY doc_id, p),
       |fp AS (SELECT doc_id, sum(bit)::BIGINT AS simhash FROM bits GROUP BY 1)""".stripMargin

  private[graft] val SimhashCtes = simhashCtes(16)

  /** q153b/q153d oracle: hashed sparse cosine over the fhs-sampled
    * docs (q153d's auto dims resolve to the same 64 on this corpus). */
  private[graft] def hashedCosineSampleSql: String =
    s"""WITH samp AS (
           |  SELECT doc_id, text FROM documents
           |  WHERE (${duckMd5Bucket("'fhs:' || doc_id")}) < 200000),
           |tk AS (
           |  SELECT doc_id,
           |         unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS term
           |  FROM samp),
           |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tk GROUP BY 1, 2),
           |hf AS (
           |  SELECT doc_id, tf,
           |    (list_sum(list_transform(range(1, 9), i ->
           |        (strpos('0123456789abcdef',
           |                substr(md5('fh:' || term), i::INTEGER, 1)) - 1)::BIGINT
           |          << ((8 - i)::INTEGER * 4))) % 64) AS bucket,
           |    (1 - 2 * ((strpos('0123456789abcdef',
           |                      substr(md5('fh:' || term), 9, 1)) - 1) % 2))::BIGINT AS sign
           |  FROM tf),
           |hw AS (
           |  SELECT doc_id, bucket, sum(sign * tf)::BIGINT AS weight
           |  FROM hf GROUP BY 1, 2 HAVING sum(sign * tf) <> 0),
           |dots AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |         sum(a.weight * b.weight)::BIGINT AS dot
           |  FROM hw a JOIN hw b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |norms AS (SELECT doc_id, sum(weight * weight)::BIGINT AS n2 FROM hw GROUP BY 1)
           |SELECT doc_a, doc_b,
           |       round(dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) AS cos
           |FROM dots
           |JOIN norms na ON na.doc_id = doc_a
           |JOIN norms nb ON nb.doc_id = doc_b
           |WHERE round(dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6) >= 0.85
           |ORDER BY doc_a, doc_b""".stripMargin

  /** q158/q158b oracle: brute-force directed containment over `src` —
    * the screened tier must reproduce it verbatim (q158b runs on the
    * cns-sampled relation; the SQL shape is identical). */
  private[graft] def containmentSqlFrom(src: String): String =
    s"""WITH ${shingleCtesFrom(src)},
       |inter AS (
       |  SELECT a.doc_id AS inner_id, b.doc_id AS outer_id, count(*) AS i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT inner_id, outer_id, round(i * 1.0 / x.sz, 6) AS containment
       |FROM inter JOIN sz x ON inner_id = x.doc_id
       |WHERE round(i * 1.0 / x.sz, 6) >= 0.5
       |ORDER BY inner_id, outer_id""".stripMargin

  private[graft] def containmentSql: String = containmentSqlFrom("documents")

  /** q12/q121 oracle: brute-force word-3-gram Jaccard ≥ threshold
    * pairs — the exact answer both the all-pairs tier (q12, τ=0.5) and
    * the prefix-filtered tier (q121, τ=0.8 — its intended high-τ
    * near-dup operating point) must reproduce. */
  private[graft] def ngramJaccardSql(threshold: Double) =
    s"""WITH $ShingleCtes,
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, round(i * 1.0 / (x.sz + y.sz - i), 6) AS jaccard
       |FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
       |WHERE i * 1.0 / (x.sz + y.sz - i) >= $threshold
       |ORDER BY d1, d2""".stripMargin

  /** DuckDB mirror of sourceOverlapKmv's 60-bit hash: the first 15 md5
    * hex digits folded to a BIGINT (the duckMd5Bucket fold, 15 digits,
    * no modulus). */
  private[graft] def duckMd5Hash60(keyExpr: String): String =
    s"""list_sum(list_transform(range(1, 16), i ->
       |        (strpos('0123456789abcdef',
       |                substr(md5($keyExpr), i::INTEGER, 1)) - 1)::BIGINT
       |          << ((15 - i)::INTEGER * 4)))""".stripMargin

  /** Distinct per-source term relation (tf) shared by the q122/q124
    * source-overlap family. */
  private[graft] val SourceTermsCte =
    """tf AS (
      |  SELECT DISTINCT source, fp FROM (
      |    SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS fp
      |    FROM documents) WHERE fp <> '')""".stripMargin

  /** Exact overlap matrix CTEs over `tf` → relation `exactj`
    * (s1, s2, n1, n2, inter, jaccard). */
  private[graft] val ExactOverlapCtes =
    """counts AS (SELECT source, count(*)::BIGINT AS n FROM tf GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS s1, b.source AS s2, count(*)::BIGINT AS inter
      |  FROM tf a JOIN tf b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2),
      |exactj AS (
      |  SELECT c1.source AS s1, c2.source AS s2, c1.n AS n1, c2.n AS n2,
      |         coalesce(i.inter, 0)::BIGINT AS inter,
      |         round(coalesce(i.inter, 0) * 1.0 /
      |               (c1.n + c2.n - coalesce(i.inter, 0)), 6) AS jaccard
      |  FROM counts c1 JOIN counts c2 ON c1.source < c2.source
      |  LEFT JOIN inter i ON i.s1 = c1.source AND i.s2 = c2.source)""".stripMargin

  /** KMV sketch chain over `tf` → relation `kmv` (s1, s2, m_size,
    * n_both, jaccard_est) — the identical construction
    * Pipeline.sourceOverlapKmv runs (60-bit hashes, per-source k-min,
    * merged k-min of the union per pair). */
  private[graft] def kmvOverlapCtes(k: Int): String =
    s"""hsh AS (
       |  SELECT DISTINCT source, ${duckMd5Hash60("fp")} AS h FROM tf),
       |sk AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |           row_number() OVER (PARTITION BY source ORDER BY h) AS rk
       |    FROM hsh) WHERE rk <= $k),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |kpairs AS (
       |  SELECT a.source AS s1, b.source AS s2
       |  FROM srcs a JOIN srcs b ON a.source < b.source),
       |sides AS (
       |  SELECT p.s1, p.s2, q.h, 1 AS ia, 0 AS ib
       |  FROM kpairs p JOIN sk q ON q.source = p.s1
       |  UNION ALL
       |  SELECT p.s1, p.s2, q.h, 0 AS ia, 1 AS ib
       |  FROM kpairs p JOIN sk q ON q.source = p.s2),
       |kmerged AS (
       |  SELECT s1, s2, h, max(ia) AS ia, max(ib) AS ib
       |  FROM sides GROUP BY 1, 2, 3),
       |kmv AS (
       |  SELECT s1, s2, count(*)::BIGINT AS m_size,
       |         sum(ia * ib)::BIGINT AS n_both,
       |         round(sum(ia * ib) * 1.0 / count(*), 6) AS jaccard_est
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rk
       |    FROM kmerged)
       |  WHERE rk <= $k GROUP BY 1, 2)""".stripMargin

  /** DuckDB mirror of Pipeline's deterministic hash bucket (first 32
    * md5 bits of the stringified key, mod 1e6) — hex digits folded via
    * strpos, the q34 convention. */
  private[graft] def duckMd5Bucket(keyExpr: String): String =
    s"""list_sum(list_transform(range(1, 9), i ->
       |        (strpos('0123456789abcdef',
       |                substr(md5(($keyExpr)::VARCHAR), i::INTEGER, 1)) - 1)::BIGINT
       |          << ((8 - i)::INTEGER * 4))) % 1000000""".stripMargin

  /** clean (dedup→lang→quality) → chunk → pack oracle chain over a
    * parameterized source relation — ONE builder keeps q51 (full corpus)
    * and q77 (Bloom-screened increment) in lockstep by construction. */
  private[graft] def prepChainSql(sourceRel: String): String =
    s"""WITH keep AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM $sourceRel) WHERE rn = 1),
        |t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
        |  FROM keep),
        |h AS (
        |  SELECT doc_id, toks,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is')))::BIGINT AS hits_en,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','zu')))::BIGINT AS hits_de,
        |    len(list_filter(toks, x -> x IN ('el','la','de','los','y','es','en')))::BIGINT AS hits_es,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','en','est','un')))::BIGINT AS hits_fr
        |  FROM t),
        |l AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN greatest(hits_en, hits_de, hits_es, hits_fr) = 0 THEN 'und'
        |         WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
        |         WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
        |         WHEN hits_es >= hits_fr THEN 'es'
        |         ELSE 'fr' END AS lang_pred
        |  FROM h),
        |m AS (
        |  SELECT doc_id, lang_pred,
        |    len(toks)::BIGINT AS n_tokens,
        |    len(list_distinct(toks))::BIGINT AS n_distinct,
        |    round(len(list_filter(toks, x -> x IN (
        |      'the','a','of','and','to','in','is','der','die','das','und','ist',
        |      'ein','zu','el','la','de','los','y','es','en','le','les','et','est','un'
        |    ))) * 1.0 / greatest(len(toks), 1), 6) AS stopword_ratio
        |  FROM l),
        |q AS (
        |  SELECT doc_id, lang_pred,
        |    round(least(n_tokens / 50.0, 1.0) * 0.4 +
        |          (n_distinct * 1.0 / greatest(n_tokens, 1)) * 0.4 +
        |          least(stopword_ratio * 4.0, 1.0) * 0.2, 6) AS quality_score
        |  FROM m),
        |clean AS (
        |  SELECT k.doc_id, k.text
        |  FROM keep k JOIN q ON k.doc_id = q.doc_id
        |  WHERE q.lang_pred IN ('en', 'es') AND q.quality_score >= 0.55),
        |ct AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
        |  FROM clean),
        |ch AS (
        |  SELECT doc_id, toks,
        |         unnest(range(0, ((len(toks) - 1) // 64) + 1)) AS chunk_id
        |  FROM ct WHERE len(toks) > 0),
        |chunks AS (
        |  SELECT (doc_id * 1048576 + chunk_id)::BIGINT AS cid,
        |         least(len(toks) - chunk_id * 64, 64)::BIGINT AS n_tokens
        |  FROM ch)
        |SELECT cid, n_tokens, (cid % 16)::BIGINT AS bucket,
        |       floor(coalesce(sum(n_tokens) OVER (PARTITION BY cid % 16
        |               ORDER BY cid
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |             / 256.0)::BIGINT AS pack_id
        |FROM chunks ORDER BY cid""".stripMargin

  private[graft] val TfIdfCtes =
    s"""WITH $TokCte,
       |cnt AS (SELECT term, doc_id, count(*) AS cnt FROM tok GROUP BY 1, 2),
       |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
       |dft AS (SELECT term, count(*) AS df FROM cnt GROUP BY 1),
       |scores AS (
       |  SELECT c.term, c.doc_id,
       |         round((1 + log10(cnt)) * log10(1 + floor(nd / df)), 6) AS tfidf
       |  FROM cnt c JOIN dft USING (term) CROSS JOIN n
       |)""".stripMargin

  /** Okapi BM25 per-doc score CTE chain (k1=1.2, b=0.75, always-positive
    * idf), ending in `bm(doc_id, score)` for the SearchQuery terms —
    * shared verbatim by q69, q69b, and q94's lexical arm so the three
    * stay lockstep by construction. */
  private[graft] val Bm25Ctes =
    s"""$TokCte,
       |cnt AS (SELECT term, doc_id, count(*) AS cnt FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(cnt) AS dl FROM cnt GROUP BY 1),
       |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
       |dft AS (SELECT term, count(*) AS df FROM cnt GROUP BY 1),
       |sc AS (
       |  SELECT c.term, c.doc_id,
       |         round(ln(1 + (nd - df + 0.5) / (df + 0.5))
       |               * (cnt * 2.2)
       |               / (cnt + 1.2 * (0.25 + 0.75 * d.dl / avgdl)), 6) AS s
       |  FROM cnt c JOIN dl d USING (doc_id) JOIN dft USING (term)
       |  CROSS JOIN st),
       |bm AS (
       |  SELECT doc_id, round(sum(s), 6) AS score FROM sc
       |  WHERE term IN ('spark', 'stream', 'window')
       |  GROUP BY doc_id)""".stripMargin

  /** Winnowing fingerprint CTEs (k=3 gram, w=4 window — q72/q74): gram
    * hashes per doc, window minima, distinct (doc, fp) set. Mirrors
    * `TextAnalysis.winnowFingerprints(k = 3, w = 4)`. */
  private[graft] val WinnowCtes =
    """WITH tokl AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS toks
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, list_transform(range(1, len(toks) - 1),
      |         i -> md5(array_to_string(list_slice(toks, i, i + 2), ' '))) AS hs
      |  FROM tokl WHERE len(toks) >= 3),
      |wmin AS (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(hs) - 4, 0) + 2),
      |         j -> list_aggregate(list_slice(hs, j, j + 3), 'min'))) AS fp
      |  FROM h),
      |wfp AS (SELECT DISTINCT doc_id, fp FROM wmin)""".stripMargin

  // ---------------------------------------------------------------------
  // Spark-side TF-IDF with oracle column names / rounding.
  // ---------------------------------------------------------------------
  private[graft] def tfidfScores(spark: SparkSession, dir: String): DataFrame =
    TfIdf
      .tfidf(docs(spark, dir))
      .select(
        col("term"),
        col("doc").as("doc_id"),
        round(col("tfidf"), 6).as("tfidf")
      )

  // ListMap: declaration order — cheap pipeline queries first, so session
  // warmup (JIT, codegen cache) isn't charged to an expensive query.

  /** q117 oracle: the SAME integer recurrence as Graph.termPageRank,
    * unrolled to `iters` chained CTEs (DuckDB recursive CTEs can't
    * aggregate over the recursive reference, so a generated unroll is
    * the portable form — the minLabelIterSql precedent). DuckDB's
    * BIGINT sum promotes to HUGEINT and `//` is floor division, so
    * every intermediate matches the engine's `div` arithmetic exactly;
    * the final cast pins the column back to BIGINT. */
  /** Windowed co-occurrence GRAPH prefix (tokl → pos → pairs → pc):
    * the canonical t1 < t2 edge relation with cnt ≥ minCount, exactly
    * Graph.termPageRank's / Graph.triangleCounts' pair scan — shared
    * so q117 and q127 read the same graph by construction. */
  private[graft] def coocGraphCtes(window: Int, minCount: Int): String =
    s"""tokl AS (
       |  SELECT doc_id,
       |         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, p, toks[p::INTEGER] AS term
       |  FROM tokl, unnest(range(1, len(toks) + 1)) r(p)),
       |pairs AS (
       |  SELECT least(a.term, b.term) AS t1, greatest(a.term, b.term) AS t2
       |  FROM pos a JOIN pos b
       |    ON a.doc_id = b.doc_id AND b.p > a.p AND b.p <= a.p + $window),
       |pc AS (
       |  SELECT t1, t2 FROM (
       |    SELECT t1, t2, count(*) AS cnt FROM pairs GROUP BY 1, 2)
       |  WHERE cnt >= $minCount AND t1 <> t2)""".stripMargin

  /** q182 oracle: the engine's exact-integer power rounds over the
    * transition matrix, unrolled (the [[termPageRankSql]] pattern). */
  /** q196 oracle: the engine's exact-integer power iteration over the
    * floor-quantized covariance, unrolled (the [[termPageRankSql]] /
    * [[transitionStationarySql]] pattern) — matvec in HUGEINT, max-abs
    * renormalization via sign·(|raw|·1e6 // m) so `//` only ever sees
    * nonnegative operands (floor ≡ Spark's truncating `div` there). */
  private[graft] def pc1Sql(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT cq.j, sum(cq.v * x${k - 1}.x) AS raw
         |  FROM cq JOIN x${k - 1} ON cq.i = x${k - 1}.j GROUP BY 1),
         |m$k AS MATERIALIZED (SELECT max(abs(raw)) AS m FROM r$k),
         |x$k AS MATERIALIZED (
         |  SELECT j, CASE WHEN m = 0 THEN 0::HUGEINT
         |    WHEN raw < 0 THEN -((abs(raw) * 1000000) // m)
         |    ELSE (raw * 1000000) // m END AS x
         |  FROM r$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |xq AS (SELECT vec_id, (i - 1)::BIGINT AS i,
       |              CAST(round(emb[i::INTEGER] * 1e6) AS BIGINT) AS v
       |       FROM e, unnest(range(1, len(emb) + 1)) rr(i)),
       |p AS (SELECT a.i AS i, b.i AS j, count(*)::BIGINT AS n_vecs,
       |             sum(a.v::HUGEINT) AS sx, sum(b.v::HUGEINT) AS sy,
       |             sum(a.v::HUGEINT * b.v::HUGEINT) AS sxy
       |      FROM xq a JOIN xq b ON a.vec_id = b.vec_id AND b.i >= a.i
       |      GROUP BY 1, 2),
       |cu AS (SELECT i, j,
       |              CASE WHEN (n_vecs::HUGEINT * sxy - sx * sy) < 0
       |                THEN -(abs(n_vecs::HUGEINT * sxy - sx * sy)
       |                       // (n_vecs::HUGEINT * n_vecs))
       |                ELSE (n_vecs::HUGEINT * sxy - sx * sy)
       |                     // (n_vecs::HUGEINT * n_vecs) END AS v
       |       FROM p),
       |cq AS MATERIALIZED (SELECT i, j, v FROM cu
       |       UNION ALL SELECT j AS i, i AS j, v FROM cu WHERE i <> j),
       |x0 AS MATERIALIZED (SELECT DISTINCT j, 1000000::HUGEINT AS x FROM cq),
       |$rounds,
       |xf AS MATERIALIZED (SELECT j, x::HUGEINT AS x FROM x$iters),
       |fl AS (SELECT CASE WHEN x < 0 THEN -1 ELSE 1 END AS f
       |       FROM xf ORDER BY abs(x) DESC, j LIMIT 1),
       |qn AS (SELECT sum(cq.v::HUGEINT * a.x * b.x) AS num
       |       FROM cq JOIN xf a ON cq.i = a.j JOIN xf b ON cq.j = b.j),
       |dn AS (SELECT sum(x * x) AS den FROM xf),
       |tr AS (SELECT sum(v::HUGEINT) AS t FROM cq WHERE i = j)
       |SELECT xf.j AS dim,
       |       round((xf.x * fl.f)::DOUBLE / 1e6, 6) AS loading,
       |       round(qn.num::DOUBLE / dn.den::DOUBLE / 1e12, 6) AS eigval,
       |       CASE WHEN tr.t > 0 THEN
       |         round(qn.num::DOUBLE / (dn.den::DOUBLE * tr.t::DOUBLE), 6)
       |       END AS explained
       |FROM xf, fl, qn, dn, tr ORDER BY dim""".stripMargin
  }

  /** q208 oracle: the q196 fit verbatim, then the DEFLATED power
    * rounds — each matvec minus the sign-safe integer projection onto
    * the fitted PC1 — unrolled the same way. */
  private[graft] def pc2Sql(iters: Int): String = {
    val fit = pc1Sql(iters)
    val ctes = fit.substring(0, fit.lastIndexOf("SELECT xf.j AS dim")).trim
    val rounds = (1 to iters).map { k =>
      s"""z$k AS MATERIALIZED (
         |  SELECT cq.j, sum(cq.v * y${k - 1}.x) AS raw
         |  FROM cq JOIN y${k - 1} ON cq.i = y${k - 1}.j GROUP BY 1),
         |pp$k AS MATERIALIZED (
         |  SELECT sum(z.raw * u.u) AS p FROM z$k z JOIN uvec u ON u.j = z.j),
         |w$k AS MATERIALIZED (
         |  SELECT z.j,
         |         z.raw - (CASE WHEN pp.p * u.u < 0
         |                  THEN -((abs(pp.p * u.u)) // dn.den)
         |                  ELSE (pp.p * u.u) // dn.den END) AS raw
         |  FROM z$k z, pp$k pp, dn, uvec u WHERE u.j = z.j),
         |mm$k AS MATERIALIZED (SELECT max(abs(raw)) AS m FROM w$k),
         |y$k AS MATERIALIZED (
         |  SELECT j, CASE WHEN m = 0 THEN 0::HUGEINT
         |    WHEN raw < 0 THEN -((abs(raw) * 1000000) // m)
         |    ELSE (raw * 1000000) // m END AS x
         |  FROM w$k, mm$k)""".stripMargin
    }.mkString(",\n")
    s"""$ctes,
       |uvec AS MATERIALIZED (SELECT j, (xf.x * fl.f)::HUGEINT AS u
       |                      FROM xf, fl),
       |y0 AS MATERIALIZED (SELECT j, 1000000::HUGEINT AS x FROM uvec),
       |$rounds,
       |yf AS MATERIALIZED (SELECT j, x::HUGEINT AS x FROM y$iters),
       |fl2 AS (SELECT CASE WHEN x < 0 THEN -1 ELSE 1 END AS f
       |        FROM yf ORDER BY abs(x) DESC, j LIMIT 1),
       |qn2 AS (SELECT sum(cq.v::HUGEINT * a.x * b.x) AS num
       |        FROM cq JOIN yf a ON cq.i = a.j JOIN yf b ON cq.j = b.j),
       |dn2 AS (SELECT sum(x * x) AS den FROM yf),
       |ot AS (SELECT sum(yf.x * u.u) AS dot FROM yf JOIN uvec u USING (j))
       |SELECT yf.j AS dim,
       |       round((yf.x * fl2.f)::DOUBLE / 1e6, 6) AS loading,
       |       CASE WHEN dn2.den > 0 THEN
       |         round(qn2.num::DOUBLE / dn2.den::DOUBLE / 1e12, 6)
       |       END AS eigval,
       |       CASE WHEN dn2.den > 0 AND tr.t > 0 THEN
       |         round(qn2.num::DOUBLE / (dn2.den::DOUBLE * tr.t::DOUBLE), 6)
       |       END AS explained,
       |       CASE WHEN dn2.den > 0 AND dn.den > 0 THEN
       |         round(ot.dot::DOUBLE /
       |               (sqrt(dn2.den::DOUBLE) * sqrt(dn.den::DOUBLE)), 6)
       |           + 0.0
       |       END AS ortho_cos
       |FROM yf, fl2, qn2, dn2, ot, tr, dn ORDER BY dim""".stripMargin
  }

  /** q199 oracle: the q196 fit verbatim, then each vector's exact
    * integer dot with the sign-flipped micro component. */
  private[graft] def pcProjectionSql(iters: Int): String = {
    val fit = pc1Sql(iters)
    val ctes = fit.substring(0, fit.lastIndexOf("SELECT xf.j AS dim")).trim
    s"""$ctes,
       |pcv AS (SELECT j, (xf.x * fl.f)::HUGEINT AS xm FROM xf, fl),
       |pr AS (
       |  SELECT e.vec_id,
       |         sum(CAST(round(e.emb[rr2.i::INTEGER] * 1e6) AS BIGINT)::HUGEINT
       |             * pcv.xm) AS p,
       |         sum(CAST(round(e.emb[rr2.i::INTEGER] * 1e6) AS BIGINT)::HUGEINT
       |             * CAST(round(e.emb[rr2.i::INTEGER] * 1e6) AS BIGINT)) AS ne2
       |  FROM e, unnest(range(1, len(emb) + 1)) rr2(i)
       |  JOIN pcv ON pcv.j = rr2.i - 1
       |  GROUP BY 1)
       |SELECT pr.vec_id,
       |       round(pr.p::DOUBLE / 1e12, 6) + 0.0 AS proj,
       |       CASE WHEN pr.ne2 > 0 AND dn.den > 0 THEN
       |         round(pr.p::DOUBLE /
       |               (sqrt(pr.ne2::DOUBLE) * sqrt(dn.den::DOUBLE)), 6) + 0.0
       |       END AS cos
       |FROM pr, dn ORDER BY vec_id""".stripMargin
  }

  private[graft] def transitionStationarySql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""x$i AS (
         |  SELECT t.to_type AS t, sum((x.x * t.n) // d.n_i)::BIGINT AS x
         |  FROM x${i - 1} x
         |  JOIN tr t ON x.t = t.from_type
         |  JOIN deg d ON d.from_type = t.from_type
         |  GROUP BY t.to_type)""".stripMargin
    }.mkString(",\n")
    s"""WITH nx AS (
       |  SELECT event_type AS from_type,
       |         lead(event_type) OVER (PARTITION BY user_id
       |                                ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |tr AS (
       |  SELECT from_type, to_type, count(*)::BIGINT AS n
       |  FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |deg AS (SELECT from_type, sum(n)::BIGINT AS n_i FROM tr GROUP BY 1),
       |x0 AS (SELECT DISTINCT event_type AS t, 1000000::BIGINT AS x
       |       FROM events),
       |$iterCtes
       |SELECT t AS event_type, x AS prob_micro FROM x$iters
       |ORDER BY event_type""".stripMargin
  }

  private[graft] def termPageRankSql(window: Int, minCount: Int, iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS term,
         |         (150000 + (85 * sum(r.r // d.deg)) // 100)::BIGINT AS r
         |  FROM r${i - 1} r
         |  JOIN edges e ON r.term = e.src
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${coocGraphCtes(window, minCount)},
       |edges AS (
       |  SELECT t1 AS src, t2 AS dst FROM pc
       |  UNION ALL
       |  SELECT t2 AS src, t1 AS dst FROM pc),
       |deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT src AS term, 1000000::BIGINT AS r FROM deg),
       |$iterCtes
       |SELECT term, r AS rank_micro FROM r$iters
       |ORDER BY rank_micro DESC, term""".stripMargin
  }

  /** q212 oracle: the unrolled fixed-round k-core peel over the shared
    * co-occurrence graph CTEs. Every round references its predecessor
    * three times (degree agg + two endpoint joins), so rounds are
    * MATERIALIZED — DuckDB inlines CTEs by default and the 8-round
    * chain would re-open the parquet exponentially otherwise (the q196
    * oracle's lesson). */
  private[graft] def kCoreSql(k: Int, window: Int, minCount: Int, rounds: Int): String = {
    val iter = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN a$i x ON e.src = x.src
         |  JOIN a$i y ON e.dst = y.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${coocGraphCtes(window, minCount)},
       |e0 AS MATERIALIZED (
       |  SELECT t1 AS src, t2 AS dst FROM pc
       |  UNION ALL
       |  SELECT t2 AS src, t1 AS dst FROM pc),
       |$iter
       |SELECT src AS term, count(*)::BIGINT AS deg
       |FROM e$rounds GROUP BY src ORDER BY term""".stripMargin
  }

  /** q116 oracle, GENERATED from [[TextAnalysis.EntropyAlphabet]] so
    * both engines count the same characters and — critically — sum the
    * n·ln(n) terms in the same fixed left-associated order (float-sum
    * order is part of the round-6 contract). Mirrors the engine's
    * length−replace counting exactly. */
  private[graft] def charEntropySql: String = {
    val cnts = TextAnalysis.EntropyAlphabet.map { c =>
      s"(length(text) - length(replace(text, '$c', '')))"
    }
    val n = cnts.mkString("(", " + ", ")")
    val s = cnts
      .map(c => s"(CASE WHEN $c > 0 THEN $c * ln($c) ELSE 0.0 END)")
      .mkString("(", " + ", ")")
    val nd = cnts
      .map(c => s"(CASE WHEN $c > 0 THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    s"""SELECT doc_id,
       |       $n::BIGINT AS n_counted,
       |       $nd::BIGINT AS n_distinct_chars,
       |       round(ln($n) - $s / $n, 6) AS entropy_nats
       |FROM documents
       |WHERE $n > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared q96/q105 oracle: TRUE connected components via a recursive
    * CTE over the band graph (no iteration bound at all) — the contract
    * BOTH converged closure tiers must equal: min-label propagation run
    * to fixpoint (q96) and large/small-star rounds (q105). reach(doc,
    * lbl) closes doc↔bucket adjacency to a fixpoint, each doc's label is
    * the minimum over its whole component, survivors the component
    * minima. Corpus + the seeded diameter chain. */
  private[graft] def convergedDedupSql: String =
    s"""WITH RECURSIVE seeded AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT * FROM (VALUES $chainValuesSql) v(doc_id, text)),
       |${shingleCtesFrom("seeded")},
       |$MinhashSigCte,
       |bands AS ($MinhashBandsSql),
       |edges AS (
       |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_val = b.band_val),
       |reach(doc_id, lbl) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e2.v, r.lbl FROM reach r JOIN edges e2 ON r.doc_id = e2.u),
       |cc AS (SELECT doc_id, min(lbl) AS lbl FROM reach GROUP BY doc_id)
       |SELECT doc_id FROM seeded
       |WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE lbl < doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Shared q26/q82/q100 oracle: deterministic IVF top-10, stride 100,
    * nProbe 2, queries vec_id < 5 — one SQL text for the direct path,
    * the materialized-index roundtrip, and (with `centPred` bounding the
    * centroid seeds to the pre-append history) the incremental append. */
  private[graft] def ivfTopKSql: String = ivfTopKSqlWith("TRUE")

  private[graft] def ivfTopKSqlWith(
      centPred: String, corpusPred: String = "TRUE"): String =
    s"""WITH ${ivfRankedCtes(centPred, corpusPred)}
      |SELECT q_vec_id, n_vec_id, cos, rnk FROM ranked
      |WHERE rnk <= 10 ORDER BY q_vec_id, rnk""".stripMargin

  /** The IVF chain up to the per-query `ranked` relation — shared by
    * the q26/q82/q100/q222/q223 top-k oracles and q143's evaluation
    * harness. `centPred` bounds the centroid seeds (the q100 frozen-
    * quantizer clause); `corpusPred` prunes the CANDIDATE side only
    * (n.* in scope — the q222 metadata filter / q223 tombstone clause;
    * probes and centroids always read the unfiltered corpus). */
  private[graft] def ivfRankedCtes(
      centPred: String, corpusPred: String = "TRUE"): String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
      |n AS (SELECT vec_id, label, emb,
      |             sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
      |c AS (SELECT vec_id AS cent_id, emb AS c_emb, nrm AS c_nrm
      |      FROM n WHERE vec_id % 100 = 0 AND ($centPred)),
      |assign AS (
      |  SELECT vec_id, emb, nrm, cent_id AS cell FROM (
      |    SELECT n.vec_id, n.emb, n.nrm, c.cent_id,
      |           row_number() OVER (
      |             PARTITION BY n.vec_id
      |             ORDER BY list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm)
      |               DESC, c.cent_id) AS rn
      |    FROM n CROSS JOIN c WHERE ($corpusPred)) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS q_vec_id, emb AS q_emb, nrm AS q_nrm, cent_id AS cell
      |  FROM (
      |    SELECT n.vec_id, n.emb, n.nrm, c.cent_id,
      |           row_number() OVER (
      |             PARTITION BY n.vec_id
      |             ORDER BY list_dot_product(n.emb, c.c_emb) / (n.nrm * c.c_nrm)
      |               DESC, c.cent_id) AS rn
      |    FROM n CROSS JOIN c WHERE n.vec_id < 5) WHERE rn <= 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_vec_id
      |                               ORDER BY cos DESC, n_vec_id) AS rnk
      |  FROM (
      |    SELECT p.q_vec_id, a.vec_id AS n_vec_id,
      |           round(list_dot_product(p.q_emb, a.emb) / (p.q_nrm * a.nrm), 6) AS cos
      |    FROM probes p JOIN assign a
      |      ON p.cell = a.cell AND p.q_vec_id <> a.vec_id))""".stripMargin

  /** q83/q83b oracle scaffolding, generated from Layout's constants
    * (grid bits, cell shift, the interleave unroll) so engine and
    * oracle cannot drift. */
  private[graft] def zBucketSql(v: String, mn: String, mx: String, nb: Long): String =
    s"floor(($v - $mn)::DOUBLE * $nb / ($mx - $mn + 1)::DOUBLE)::BIGINT"

  private[graft] def zorderLayoutSql: String = {
    val nb = 1L << Layout.DefaultBits
    val shift = 2 * Layout.DefaultBits - Layout.DefaultCellBits
    s"""WITH e AS (SELECT event_id, user_id AS x,
       |            epoch_us(ts) // 1000000 AS y FROM events),
       |s AS (SELECT min(x) AS x_mn, max(x) AS x_mx,
       |             min(y) AS y_mn, max(y) AS y_mx FROM e),
       |b AS (SELECT event_id,
       |        ${zBucketSql("x", "x_mn", "x_mx", nb)} AS xb,
       |        ${zBucketSql("y", "y_mn", "y_mx", nb)} AS yb
       |      FROM e CROSS JOIN s),
       |z AS (SELECT event_id,
       |        ${Layout.zInterleaveSql("xb", "yb", Layout.DefaultBits)} AS zval
       |      FROM b)
       |SELECT event_id, zval, zval >> $shift AS cell FROM z
       |ORDER BY event_id""".stripMargin
  }

  private[graft] def zorderSkippingSql: String = {
    val nb = 1L << Layout.DefaultBits
    val nCells = 1L << Layout.DefaultCellBits
    val shift = 2 * Layout.DefaultBits - Layout.DefaultCellBits
    val overlap = "x_lo <= qx_hi AND x_hi >= qx_lo" +
      " AND y_lo <= qy_hi AND y_hi >= qy_lo"
    s"""WITH e AS (SELECT event_id, user_id AS x,
       |            epoch_us(ts) // 1000000 AS y FROM events),
       |s AS (SELECT min(x) AS x_mn, max(x) AS x_mx,
       |             min(y) AS y_mn, max(y) AS y_mx FROM e),
       |box AS (SELECT
       |  x_mn + floor((x_mx - x_mn)::DOUBLE * 1 / 4)::BIGINT AS qx_lo,
       |  x_mn + floor((x_mx - x_mn)::DOUBLE * 9 / 20)::BIGINT AS qx_hi,
       |  y_mn + floor((y_mx - y_mn)::DOUBLE * 1 / 3)::BIGINT AS qy_lo,
       |  y_mn + floor((y_mx - y_mn)::DOUBLE * 2 / 3)::BIGINT AS qy_hi
       |  FROM s),
       |b AS (SELECT event_id, x, y,
       |        ${zBucketSql("x", "x_mn", "x_mx", nb)} AS xb,
       |        ${zBucketSql("y", "y_mn", "y_mx", nb)} AS yb
       |      FROM e CROSS JOIN s),
       |zc AS (SELECT x, y,
       |        (${Layout.zInterleaveSql("xb", "yb", Layout.DefaultBits)})
       |          >> $shift AS cell
       |       FROM b),
       |lc AS (SELECT x, y,
       |        ${zBucketSql("event_id", "i_mn", "i_mx", nCells)} AS cell
       |       FROM e CROSS JOIN (SELECT min(event_id) AS i_mn,
       |                                 max(event_id) AS i_mx FROM e)),
       |zs AS (SELECT cell, count(*) AS n_rows,
       |         min(x) AS x_lo, max(x) AS x_hi,
       |         min(y) AS y_lo, max(y) AS y_hi FROM zc GROUP BY cell),
       |ls AS (SELECT cell, count(*) AS n_rows,
       |         min(x) AS x_lo, max(x) AS x_hi,
       |         min(y) AS y_lo, max(y) AS y_hi FROM lc GROUP BY cell)
       |SELECT 'zorder' AS layout, count(*) AS n_cells,
       |  sum(CASE WHEN $overlap THEN 1 ELSE 0 END)::BIGINT AS cells_scanned,
       |  sum(CASE WHEN $overlap THEN n_rows ELSE 0 END)::BIGINT AS rows_scanned
       |FROM zs CROSS JOIN box
       |UNION ALL
       |SELECT 'linear' AS layout, count(*) AS n_cells,
       |  sum(CASE WHEN $overlap THEN 1 ELSE 0 END)::BIGINT AS cells_scanned,
       |  sum(CASE WHEN $overlap THEN n_rows ELSE 0 END)::BIGINT AS rows_scanned
       |FROM ls CROSS JOIN box
       |ORDER BY layout""".stripMargin
  }

  /** q84/q84b epoch-shuffle constants — interpolated into BOTH the
    * engine calls and the oracle SQL so the two cannot drift. */
  private[graft] val EpochSeed = 1
  private[graft] val EpochShards = 8
  private[graft] val EpochBatch = 32

  /** The full 32-bit md5 key (duckMd5Bucket WITHOUT the 1e6 modulus) —
    * the ordering key epochShuffle permutes by. */
  private[graft] def duckMd5Hash32(keyExpr: String): String =
    // list_sum returns DOUBLE in DuckDB — cast back; 2^32 fits exactly
    s"""(list_sum(list_transform(range(1, 9), i ->
       |        (strpos('0123456789abcdef',
       |                substr(md5(($keyExpr)::VARCHAR), i::INTEGER, 1)) - 1)::BIGINT
       |          << ((8 - i)::INTEGER * 4))))::BIGINT""".stripMargin

  /** Shared q84/q84b CTEs: seeded hash → shard → within-shard rank. */
  private[graft] def epochShuffleCtes: String =
    s"""h AS (
       |  SELECT doc_id,
       |         ${duckMd5Hash32(s"'$EpochSeed:' || doc_id::VARCHAR")} AS h
       |  FROM documents),
       |r AS (SELECT doc_id, h % $EpochShards AS shard,
       |        row_number() OVER (PARTITION BY h % $EpochShards
       |                           ORDER BY h, doc_id)::BIGINT AS seq
       |      FROM h)""".stripMargin

  /** q86/q86b hashed-bucket count — interpolated into BOTH sides. */
  private[graft] val DsirBuckets = 1024

  /** Shared q86/q86b CTEs: tokenize → md5 bucket → smoothed
    * log-likelihood-ratio model in integer micro-nats → per-doc exact
    * long scores. Mirrors `Pipeline.importanceResample` constant for
    * constant. */
  private[graft] def dsirScoreCtes: String =
    s"""tok AS (
       |  SELECT doc_id, source,
       |         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |                t -> t <> '')) AS token
       |  FROM documents),
       |tb AS (
       |  SELECT doc_id, source,
       |         (${duckMd5Hash32("token")}) % $DsirBuckets AS bucket
       |  FROM tok),
       |m AS (
       |  SELECT bucket,
       |         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS cnt_t,
       |         count(*)::BIGINT AS cnt_r
       |  FROM tb GROUP BY 1),
       |tot AS (SELECT sum(cnt_t)::BIGINT AS n_t, sum(cnt_r)::BIGINT AS n_r FROM m),
       |q AS (
       |  SELECT bucket,
       |         floor(ln(((cnt_t + 1) * (n_r + $DsirBuckets))::DOUBLE /
       |                  ((cnt_r + 1) * (n_t + $DsirBuckets))::DOUBLE)
       |               * 1e6)::BIGINT AS qlr
       |  FROM m CROSS JOIN tot),
       |s AS (
       |  SELECT tb.doc_id, tb.source,
       |         sum(q.qlr)::BIGINT AS score_micro, count(*)::BIGINT AS n_tokens
       |  FROM tb JOIN q USING (bucket) GROUP BY 1, 2)""".stripMargin

  /** Shared q88/q88b CTEs — mirrors `Classify.naiveBayes` constant for
    * constant: hashed buckets, doc-count priors, Laplace conditionals
    * over the DENSE (bucket × class) table, argmax with ties to the
    * smallest label. Every quantized value derives from exact long
    * ratios, so scores are identical long sums in both engines. */
  private[graft] def nbScoreCtes(docsRel: String = "documents"): String =
    s"""tok AS (
       |  SELECT doc_id, lang,
       |         unnest(list_filter(regexp_split_to_array(text, '\\s+'),
       |                t -> t <> '')) AS token
       |  FROM $docsRel),
       |tb AS (
       |  SELECT doc_id, lang,
       |         (${duckMd5Hash32("token")}) % $DsirBuckets AS bucket
       |  FROM tok),
       |cls AS (SELECT lang, count(*)::BIGINT AS docs_c FROM $docsRel GROUP BY 1),
       |pri AS (
       |  SELECT lang AS cand,
       |         floor(ln(docs_c::DOUBLE /
       |                  (SELECT sum(docs_c) FROM cls)::DOUBLE) * 1e6)::BIGINT
       |           AS qprior
       |  FROM cls),
       |pc AS (SELECT bucket, lang, count(*)::BIGINT AS cnt FROM tb GROUP BY 1, 2),
       |ct AS (SELECT lang, sum(cnt)::BIGINT AS n_c FROM pc GROUP BY 1),
       |model AS (
       |  SELECT b.bucket, ct.lang AS cand,
       |         floor(ln((coalesce(pc.cnt, 0) + 1)::DOUBLE /
       |                  (ct.n_c + $DsirBuckets)::DOUBLE) * 1e6)::BIGINT AS qcond
       |  FROM (SELECT DISTINCT bucket FROM pc) b
       |  CROSS JOIN ct
       |  LEFT JOIN pc ON pc.bucket = b.bucket AND pc.lang = ct.lang),
       |db AS (SELECT doc_id, lang, bucket, count(*)::BIGINT AS cnt
       |       FROM tb GROUP BY 1, 2, 3),
       |sc AS (
       |  SELECT db.doc_id, db.lang, m.cand,
       |         sum(db.cnt * m.qcond)::BIGINT AS lik
       |  FROM db JOIN model m USING (bucket) GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT sc.doc_id, sc.lang, sc.cand,
       |         (sc.lik + p.qprior)::BIGINT AS score_micro,
       |         row_number() OVER (PARTITION BY sc.doc_id
       |                            ORDER BY sc.lik + p.qprior DESC, sc.cand)
       |           AS rn
       |  FROM sc JOIN pri p ON p.cand = sc.cand)""".stripMargin

  /** Shared q91/q91b CTEs: history (doc_id < 250) shingle/sig/bands
    * UNSUFFIXED (the label iteration binds to `bands`), delta `_n`;
    * history split `sp`, guarded anchors, and the delta assignment
    * `nsp` — mirrors `Dedup.leakageSafeSplitAgainst` exactly. */
  private[graft] def incrementalSplitCtes: String =
    s"""${shingleCtesSfx("(SELECT * FROM documents WHERE doc_id < 250)", "")},
       |${shingleCtesSfx("(SELECT * FROM documents WHERE doc_id >= 250)", "_n")},
       |$MinhashSigCte,
       |${minhashSigCteSfx("_n")},
       |bands AS ($MinhashBandsSql),
       |bands_n AS (${minhashBandsSqlSfx("_n")}),
       |l0 AS (SELECT DISTINCT doc_id, doc_id AS lbl FROM bands),
       |${minLabelIterSql(3)},
       |${splitAssignCtes("(SELECT doc_id FROM documents WHERE doc_id < 250)")},
       |bok AS (
       |  SELECT band, band_val FROM bands GROUP BY 1, 2
       |  HAVING count(*) <= ${Dedup.MaxPairBucket}),
       |anc AS (
       |  SELECT a.doc_id, min(b.doc_id) AS anchor
       |  FROM bands_n a JOIN bands b
       |    ON a.band = b.band AND a.band_val = b.band_val
       |  JOIN bok ON a.band = bok.band AND a.band_val = bok.band_val
       |  GROUP BY 1),
       |nsp AS (
       |  SELECT d.doc_id, anc.anchor,
       |         coalesce(h.split,
       |           CASE WHEN (${duckMd5Bucket("'split:' || d.doc_id")}) < 100000
       |                THEN 'val' ELSE 'train' END) AS split
       |  FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
       |  LEFT JOIN anc ON anc.doc_id = d.doc_id
       |  LEFT JOIN sp h ON h.doc_id = anc.anchor)""".stripMargin

  /** q88 AND q88c answer to this one oracle — the strategy-twin
    * contract: distributed fit+score and collected-model row-local
    * scoring must produce identical predictions and exact long scores. */
  private[graft] def nbPredictionsSql: String =
    s"""WITH ${nbScoreCtes()}
       |SELECT doc_id, lang, cand AS predicted, score_micro
       |FROM pred WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Shared q87/q87b/q91 CTE: cluster label (singletons = own id) →
    * split via the md5 permille bucket of "split:label" at 100‰
    * validation, over a parameterized docs relation. */
  private[graft] def splitAssignCtes(docsRel: String = "documents"): String =
    s"""sp AS (
       |  SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS cluster,
       |         CASE WHEN (${duckMd5Bucket("'split:' || coalesce(l.lbl, d.doc_id)")})
       |                   < 100000
       |              THEN 'val' ELSE 'train' END AS split
       |  FROM $docsRel d LEFT JOIN l3 l USING (doc_id))""".stripMargin

  /** Shared q175/q175b/q175c oracle: the first-seen growth curve,
    * optionally over a filtered slice of events. */
  private[graft] def userGrowthSql(where: String = ""): String =
    s"""WITH pairs AS (
      |  SELECT date_trunc('day', ts) AS day, user_id,
      |         count(*)::BIGINT AS n
      |  FROM events $where GROUP BY 1, 2),
      |daily AS (
      |  SELECT day, sum(n)::BIGINT AS n_events,
      |         count(*)::BIGINT AS n_active_users
      |  FROM pairs GROUP BY 1),
      |fs AS (SELECT user_id, min(day) AS day FROM pairs GROUP BY 1),
      |npd AS (SELECT day, count(*)::BIGINT AS n_new_users FROM fs GROUP BY 1)
      |SELECT d.day, d.n_events, d.n_active_users,
      |       coalesce(npd.n_new_users, 0)::BIGINT AS n_new_users,
      |       sum(coalesce(npd.n_new_users, 0)) OVER (ORDER BY d.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |         AS cum_users
      |FROM daily d LEFT JOIN npd USING (day)
      |ORDER BY day""".stripMargin

  /** Shared q78/q78b oracle: exact θ-heavy keys at θ = 0.008. */
  private[graft] def hotKeysSql: String =
    """WITH tot AS (SELECT count(*) AS n_rows FROM events)
      |SELECT user_id, count(*)::BIGINT AS cnt,
      |       round(count(*) * 1.0 / n_rows, 6) AS freq
      |FROM events CROSS JOIN tot
      |GROUP BY user_id, n_rows
      |HAVING count(*) >= ceil(0.008 * n_rows)
      |ORDER BY user_id""".stripMargin
}
