package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.{Rank, Search, TfIdf}

/**
 * Property-based invariants over generated corpora (SURVEY.md §5.4).
 * Generator alphabet is word-char-only: the tokenizer-linearity property
 * requires no punctuation at line junctions (boundary tokens merge across
 * a whitespace join — SURVEY.md quirk Q1).
 */
object TfIdfProperties extends Properties("TfIdf") {

  // Spark per sample is ~100ms — keep the sample count modest.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.spark

  private val word: Gen[String] =
    Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "hello", "world")

  private val line: Gen[String] =
    Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  private val corpusGen: Gen[List[(String, String)]] =
    Gen.chooseNum(1, 5).flatMap { n =>
      Gen.listOfN(n, line).map(_.zipWithIndex.map { case (l, i) => (s"d$i", l) })
    }

  private def df(rows: List[(String, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc", "line")
  }

  property("tf >= 1 for every (term, doc)") = forAll(corpusGen) { rows =>
    TfIdf.termFrequency(TfIdf.docWordCount(TfIdf.tokenize(df(rows))))
      .collect().forall(_.getAs[Double]("tf") >= 1.0)
  }

  property("tfidf > 0 always (idf >= log10 2 even at df = N)") =
    forAll(corpusGen) { rows =>
      TfIdf.tfidf(df(rows)).collect().forall(_.getAs[Double]("tfidf") > 0.0)
    }

  property("search on a single term == that term's tfidf rows") =
    forAll(corpusGen, word) { (rows, q) =>
      val scores = TfIdf.tfidf(df(rows))
      val expect = scores.where(col("term") === q)
        .select(col("doc"), col("tfidf"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = Search.searchTokens(scores, Seq(q))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      got == expect
    }

  /** Query token lists: corpus words and absent terms, duplicates
    * likely (8 + 2 candidates, up to 6 picks), the empty list included. */
  private val tokensGen: Gen[List[String]] =
    Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(4 -> word, 1 -> Gen.oneOf("absent", "omega"))))

  private def scoreMap(d: DataFrame): Map[String, Double] =
    d.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** Same doc set, scores equal up to summation order. */
  private def sameScores(a: Map[String, Double], b: Map[String, Double]): Boolean =
    a.keySet == b.keySet && a.forall { case (d, s) => math.abs(s - b(d)) <= 1e-9 }

  /** The join-only formulations the term-scoped searches replace: the
    * broadcast join alone selects the query terms, over the full table. */
  private def joinOnlyAny(scores: DataFrame, tokens: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    scores.join(broadcast(tokens.toDF("term")), Seq("term"))
      .groupBy(col("doc")).agg(sum(col("tfidf")).as("score"))
  }

  private def joinOnlyAll(scores: DataFrame, tokens: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    scores.join(broadcast(tokens.distinct.toDF("term")), Seq("term"))
      .groupBy(col("doc"))
      .agg(sum(col("tfidf")).as("score"), count(lit(1)).as("_matched"))
      .where(col("_matched") === tokens.distinct.length)
      .select(col("doc"), col("score"))
  }

  property("term-scoped searchTokens / searchAllTokens == join-only search") =
    forAll(corpusGen, tokensGen) { (rows, tokens) =>
      val scores = TfIdf.tfidf(df(rows))
      sameScores(scoreMap(Search.searchTokens(scores, tokens)),
          scoreMap(joinOnlyAny(scores, tokens))) &&
        sameScores(scoreMap(Search.searchAllTokens(scores, tokens)),
          scoreMap(joinOnlyAll(scores, tokens)))
    }

  property("parityDuplicates still counts a repeated query term twice") =
    forAll(corpusGen, tokensGen) { (rows, tokens) =>
      val query = tokens.mkString(" ")
      val parity = scoreMap(
        Search.search(df(rows), query, parityDuplicates = true))
      val perToken = tokens.groupBy(identity).map { case (t, ts) => t -> ts.size }
      // one tfidf addend per query-token occurrence, not per distinct term
      val expected = TfIdf.tfidf(df(rows)).collect().toSeq
        .map(r => (r.getAs[String]("term"), r.getAs[String]("doc"), r.getAs[Double]("tfidf")))
        .collect { case (t, d, v) if perToken.contains(t) => d -> perToken(t) * v }
        .groupMapReduce(_._1)(_._2)(_ + _)
      sameScores(parity, expected)
    }

  property("rank is search sorted desc with doc tie-break") =
    forAll(corpusGen) { rows =>
      val hits = Search.search(df(rows), "hello world")
      val ranked = Rank.rank(hits)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toList
      val expected = hits.collect().map(r => (r.getString(0), r.getDouble(1)))
        .toList.sortBy { case (d, s) => (-s, d) }
      ranked == expected
    }

  property("tokenize(whitespace-joined lines) == concat of tokenize(lines)") =
    forAll(Gen.listOfN(3, line)) { lines =>
      // tokenize each line in isolation, concatenate client-side in order
      // (a doc-sorted collect is not order-stable within a doc)
      val separate = lines.flatMap { l =>
        TfIdf.tokenize(df(List(("d", l)))).collect().map(_.getString(1)).toList
      }
      val joined = TfIdf.tokenize(df(List(("d", lines.mkString(" ")))))
        .collect().map(_.getString(1)).toList
      joined == separate
    }
}
