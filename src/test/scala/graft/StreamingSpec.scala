package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, rand, regexp_replace, udf, when}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingOps

/** Streaming ops replayed through MemoryStream; batch twins define the
  * expected values (same aggregation semantics). */
class StreamingSpec extends SparkSpec {

  test("streaming hourlyTypeStats matches batch semantics after watermark close") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val q = StreamingOps.hourlyTypeStats(events, watermark = "0 seconds")
      .writeStream.format("memory").queryName("hourly").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0))
      q.processAllAvailable()
      // advance watermark past hour 10 so the window closes and appends
      input.addData((Timestamp.valueOf("2024-01-01 12:00:01"), "click", 9.0))
      q.processAllAvailable()
      val got = spark.table("hourly").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      got.toSet shouldBe Set(("2024-01-01 10:00:00.0", "click", 2L, 3.0))
    } finally q.stop()
  }

  test("streaming downsampleOhlc candles equal the batch picks after window close") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")

    val q = StreamingOps.downsampleOhlc(events, watermark = "0 seconds")
      .writeStream.format("memory").queryName("ohlc").outputMode(OutputMode.Append())
      .start()
    try {
      // two micro-batches DELIVERED OUT OF TIME ORDER inside hour 10 —
      // min_by/max_by must still pick by (ts, event_id), not arrival
      input.addData(
        (3L, Timestamp.valueOf("2024-01-01 10:30:00"), "click", 9.0),
        (4L, Timestamp.valueOf("2024-01-01 10:45:00"), "click", 1.0))
      q.processAllAvailable()
      input.addData(
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), "click", 5.0),
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "click", 3.0))
      q.processAllAvailable()
      input.addData((9L, Timestamp.valueOf("2024-01-01 12:00:01"), "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("ohlc").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6), r.getDouble(7)))
      // open = id1 (ts tie broken by event_id), close = id4
      got.toSet shouldBe Set(
        ("2024-01-01 10:00:00.0", "click", 3.0, 9.0, 1.0, 1.0, 4L, 18.0))
    } finally q.stop()
  }

  test("streaming slidingTypeStats matches the batch twin's covering windows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val q = StreamingOps.slidingTypeStats(events, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sliding").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:31:00"), "click", 2.5))
      q.processAllAvailable()
      // advance the watermark past every covering window's end
      input.addData((Timestamp.valueOf("2024-01-01 13:00:01"), "click", 9.0))
      q.processAllAvailable()
      val got = spark.table("sliding").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2), r.getDouble(3))).toSet
      // identical to Events.slidingTypeStats on the same row (EventsSpec)
      got shouldBe Set(
        ("2024-01-01 09:45:00.0", 1L, 2.5),
        ("2024-01-01 10:00:00.0", 1L, 2.5),
        ("2024-01-01 10:15:00.0", 1L, 2.5),
        ("2024-01-01 10:30:00.0", 1L, 2.5))
    } finally q.stop()
  }

  test("streaming windowedValueQuantiles matches the batch sketch after window close") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.windowedValueQuantiles(events, watermark = "0 seconds")
      .writeStream.format("memory").queryName("wq").outputMode(OutputMode.Append())
      .start()
    try {
      val rows = (1 to 100).map(i =>
        (Timestamp.valueOf("2024-01-01 10:00:30"), "click", i.toDouble))
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-01 12:00:01"), "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("wq").where($"window_start" === "2024-01-01 10:00:00")
        .collect().map(r => (r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      // batch twin: the same mergeable sketch over the same 100 rows
      val batch = graft.operators.Events.valueQuantiles(
          rows.zipWithIndex.map { case ((ts, t, v), i) => (i.toLong, ts, 1L, t, v, "{}") }
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
          exact = false)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      got.toSeq shouldBe batch.toSeq
    } finally q.stop()
  }

  test("streaming termCounts aggregates with the reference tokenizer") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, String)]
    val docs = input.toDF().toDF("doc", "line")

    val q = StreamingOps.termCounts(docs)
      .writeStream.format("memory").queryName("tc").outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(("d1", "Hello world hello"))
      q.processAllAvailable()
      input.addData(("d1", "world again"))
      q.processAllAvailable()
      val got = spark.table("tc").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      got(("world", "d1")) shouldBe 2L
      got(("Hello", "d1")) shouldBe 1L
      got(("again", "d1")) shouldBe 1L
    } finally q.stop()
  }

  test("streaming gopherScreen keeps exactly the batch-verdict docs, stateless") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val good = (1 to 46).map(i => s"word$i").mkString(" ") + " the and of with"
    val loops = Seq.fill(30)("spam ham").mkString(" ") + " the of and with"
    val short = "the of tiny"
    val input = MemoryStream[(String, String)]
    val docs = input.toDF().toDF("doc", "line")
    // stateless ⇒ append mode with NO watermark must be accepted
    val q = StreamingOps.gopherScreen(docs)
      .select("doc")
      .writeStream.format("memory").queryName("gs").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(("g", good), ("l", loops))
      q.processAllAvailable()
      input.addData(("s", short))
      q.processAllAvailable()
      val kept = spark.table("gs").collect().map(_.getString(0)).toSet
      kept shouldBe Set("g")
    } finally q.stop()
  }

  test("streaming windowedTermCounts emits closed windows in append mode") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("doc", "line", "ts")

    val q = StreamingOps.windowedTermCounts(docs,
      windowDuration = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("wtc").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ("a", "spark spark flame", Timestamp.valueOf("2024-01-01 10:05:00")),
        ("b", "spark", Timestamp.valueOf("2024-01-01 10:45:00")))
      q.processAllAvailable()
      // advance the watermark past hour 10 to close and append its window
      input.addData(("c", "later", Timestamp.valueOf("2024-01-01 12:00:01")))
      q.processAllAvailable()
      val got = spark.table("wtc").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      got(("2024-01-01 10:00:00.0", "spark")) shouldBe 3L
      got(("2024-01-01 10:00:00.0", "flame")) shouldBe 1L
    } finally q.stop()
  }

  test("streaming windowedTermFrequency matches the batch tf quirk (1+log10)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("doc", "line", "ts")

    val q = StreamingOps.windowedTermFrequency(docs,
      windowDuration = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("wtf").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ("a", "spark spark spark flame", Timestamp.valueOf("2024-01-01 10:05:00")),
        ("b", "spark", Timestamp.valueOf("2024-01-01 10:45:00")))
      q.processAllAvailable()
      // advance the watermark past hour 10 to close and append its window
      input.addData(("c", "later", Timestamp.valueOf("2024-01-01 12:00:01")))
      q.processAllAvailable()
      val got = spark.table("wtf").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getString(2)) ->
          (r.getLong(3), r.getDouble(4))).toMap
      // batch twin: tf = round(1 + log10(cnt), 6) — the reference quirk Q2
      got(("2024-01-01 10:00:00.0", "a", "spark")) shouldBe
        (3L, math.rint((1.0 + math.log10(3.0)) * 1e6) / 1e6)
      got(("2024-01-01 10:00:00.0", "a", "flame")) shouldBe (1L, 1.0)
      got(("2024-01-01 10:00:00.0", "b", "spark")) shouldBe (1L, 1.0)
    } finally q.stop()
  }

  test("streaming windowedTfIdf scores against a static df snapshot") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("doc", "line", "ts")
    // static model: N = 100 docs, df(spark) = 9 → idf = log10(1 + 11)
    val dfModel = Seq(("spark", 9L), ("flame", 50L)).toDF("term", "df")

    val q = StreamingOps.windowedTfIdf(docs, dfModel, numDocs = 100L,
      windowDuration = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("wti").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ("a", "spark spark spark flame", Timestamp.valueOf("2024-01-01 10:05:00")))
      q.processAllAvailable()
      input.addData(("c", "later", Timestamp.valueOf("2024-01-01 12:00:01")))
      q.processAllAvailable()
      val got = spark.table("wti").collect()
        .map(r => (r.getString(1), r.getString(2)) -> r.getAs[Double]("tfidf")).toMap
      val sparkExpect = (1.0 + math.log10(3.0)) * math.log10(1 + 100 / 9) // floor(11.1)=11
      got(("a", "spark")) shouldBe
        (math.rint(sparkExpect * 1e6) / 1e6) +- 1e-9
      got(("a", "flame")) shouldBe
        (math.rint(math.log10(1 + 2) * 1e6) / 1e6) +- 1e-9 // tf=1, floor(100/50)=2
      // "later" is absent from the model — no row leaks through the join
      got.keySet.map(_._1) should not contain "c"
    } finally q.stop()
  }

  test("streaming searchStream scores query stream against a static index") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val index = Seq( // static score frame (a read-back buildIndex)
      ("spark", "d1", 0.5), ("spark", "d2", 0.25), ("flame", "d1", 0.1))
      .toDF("term", "doc", "tfidf")
    val input = MemoryStream[(Long, String, Timestamp)]
    val queries = input.toDF().toDF("query_id", "query_text", "ts")

    val q = StreamingOps.searchStream(queries, index,
        windowDuration = "1 minute", watermark = "0 seconds")
      .writeStream.format("memory").queryName("qsearch")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (1L, "spark flame", Timestamp.valueOf("2024-01-01 10:00:10")),
        (2L, "spark spark", Timestamp.valueOf("2024-01-01 10:00:20")),
        (3L, "absent", Timestamp.valueOf("2024-01-01 10:00:30")))
      q.processAllAvailable()
      input.addData((4L, "later", Timestamp.valueOf("2024-01-01 12:00:01")))
      q.processAllAvailable()
      val got = spark.table("qsearch").collect()
        .map(r => (r.getLong(1), r.getString(2)) -> r.getDouble(3)).toMap
      got((1L, "d1")) shouldBe 0.6 +- 1e-9
      got((1L, "d2")) shouldBe 0.25 +- 1e-9
      got((2L, "d1")) shouldBe 1.0 +- 1e-9 // duplicate token double-counts (Q7)
      got((2L, "d2")) shouldBe 0.5 +- 1e-9
      got.keySet.map(_._1) should not contain 3L // unindexed terms: no row
    } finally q.stop()
  }

  test("streaming dedupExact drops payload duplicates within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("doc", "line", "ts")

    val q = StreamingOps.dedupExact(docs, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ("a", "same payload", Timestamp.valueOf("2024-01-01 00:00:00")),
        ("b", "same payload", Timestamp.valueOf("2024-01-01 00:01:00")),
        ("c", "unique payload", Timestamp.valueOf("2024-01-01 00:02:00")))
      q.processAllAvailable()
      // duplicate in a later micro-batch, still within the watermark
      input.addData(("d", "same payload", Timestamp.valueOf("2024-01-01 00:05:00")))
      q.processAllAvailable()
      val got = spark.table("dedup").collect().map(_.getString(0)).toSet
      got shouldBe Set("a", "c")
    } finally q.stop()
  }

  test("streaming cleanStream dedups then filters by language and quality") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("doc", "line", "ts")
    val english = "the quick brown fox jumps over the lazy dog and then " +
      "the dog is running to a river in the forest while a bird is singing"

    val q = StreamingOps.cleanStream(docs, langs = Seq("en"), minQuality = 0.3)
      .writeStream.format("memory").queryName("clean").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ("a", english, Timestamp.valueOf("2024-01-01 00:00:00")),
        ("b", english, Timestamp.valueOf("2024-01-01 00:01:00")), // dup of a
        ("c", "der hund und die katze ist ein tier und das haus ist gross",
          Timestamp.valueOf("2024-01-01 00:02:00"))) // german
      q.processAllAvailable()
      val got = spark.table("clean").collect().map(_.getString(0)).toSet
      got shouldBe Set("a")
    } finally q.stop()
  }

  test("streaming prepStream cleans, redacts, and chunks in append mode") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, String, Timestamp)]
    val docs = input.toDF().toDF("doc", "line", "ts")
    // english enough to pass lang+quality; 1234 exercises the redactor;
    // 10 tokens with maxTokens=6 → chunks of 6 and 4
    val english = "the dog is running to a river in zone 1234"

    val q = StreamingOps.prepStream(docs, langs = Seq("en"),
        minQuality = 0.3, maxTokens = 6)
      .writeStream.format("memory").queryName("prep")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ("a", english, Timestamp.valueOf("2024-01-01 00:00:00")),
        ("b", english, Timestamp.valueOf("2024-01-01 00:01:00"))) // dup of a
      q.processAllAvailable()
      val got = StreamingSpec.this.spark.table("prep").collect()
        .map(r => (r.getString(0), r.getAs[Long]("chunk_id"),
          r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens"))).sortBy(_._2)
      got.map(_._1).toSet shouldBe Set("a") // dup dropped before chunking
      got.map(_._3).toSeq shouldBe
        Seq("the dog is running to a", "river in zone <NUM>")
      got.map(_._4).toSeq shouldBe Seq(6L, 4L)
    } finally q.stop()
  }

  test("streaming nearDupScreen matches the batch twin against static history") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val chain = SparkEntry.ChainDocs.toMap
    val history = Seq(
      ("h1", chain(1000001L)),
      ("h2", "completely different words here entirely now today"))
      .toDF("doc", "line")
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("doc", "line")

    val q = StreamingOps.nearDupScreen(stream, history, threshold = 0.5)
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ("n1", chain(1000003L)), // seeded band-mate of h1
        ("n2", "novel content with no overlap anywhere in sight"))
      q.processAllAvailable()
      val got = StreamingSpec.this.spark.table("neardup").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      got.map(p => (p._1, p._2)).toSet shouldBe Set("n1" -> "h1")
      // jaccard agrees with the batch twin to the same rounding
      val batch = graft.operators.Dedup.minhashNearDupsAgainst(
        Seq(("n1", chain(1000003L))).toDF("doc", "line"), history,
        threshold = 0.5).collect()
      batch.length shouldBe 1
      got.head._3 shouldBe batch.head.getAs[Double]("jaccard")
    } finally q.stop()
  }

  test("streaming nearDupScreenEstimated: est matches the batch signature estimator") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val chain = SparkEntry.ChainDocs.toMap
    val history = Seq(
      ("h1", chain(1000001L)),
      ("h2", "completely different words here entirely now today"))
      .toDF("doc", "line")
    // batch-side expectation: matching-minima fraction between the two
    // signature rows, computed from the SAME batch signature path
    val sigs = graft.operators.Dedup
      .minhashSignatures(graft.operators.Dedup.shingles(
        Seq(("n1", chain(1000003L)), ("h1", chain(1000001L))).toDF("doc", "line"), 3))
      .collect().map(r => r.getString(0) -> (1 to 16).map(r.getLong)).toMap
    val expected = sigs("n1").zip(sigs("h1")).count { case (a, b) => a == b } / 16.0
    expected should be > 0.0 // the seeded chain shares a full band ⇒ ≥ 4 matches

    val input = MemoryStream[(String, String)]
    val q = StreamingOps.nearDupScreenEstimated(
        input.toDF().toDF("doc", "line"), history, threshold = 0.1)
      .writeStream.format("memory").queryName("neardup_est")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ("n1", chain(1000003L)), // seeded band-mate of h1
        ("n2", "novel content with no overlap anywhere in sight"))
      q.processAllAvailable()
      val got = StreamingSpec.this.spark.table("neardup_est").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      got.map(p => (p._1, p._2)).toSet shouldBe Set("n1" -> "h1")
      got.head._3 shouldBe (math.rint(expected * 1e6) / 1e6)
    } finally q.stop()
  }

  test("streaming nearDupScreen guards degenerate history buckets and reports the skip") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val boiler = "identical boilerplate text repeated across the history corpus"
    val unique = "one genuinely distinct history document with its own words"
    // three identical docs → every band bucket of `boiler` has 3 members,
    // over the maxBucketSize=2 bound; `unique`'s buckets survive at 1
    val history = Seq(
      ("h1", boiler), ("h2", boiler), ("h3", boiler), ("h4", unique))
      .toDF("doc", "line")

    StreamingOps.nearDupScreenSkippedBuckets(history, maxBucketSize = 2)
      .collect().map(_.getAs[Long]("bucket_n")).toSeq shouldBe Seq.fill(4)(3L)

    val input = MemoryStream[(String, String)]
    val q = StreamingOps.nearDupScreen(
        input.toDF().toDF("doc", "line"), history,
        threshold = 0.5, maxBucketSize = 2)
      .writeStream.format("memory").queryName("neardup_guard")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // n1 would match all three boilerplate docs — the guard skips the
      // degenerate buckets, so the batch completes with no n1 rows
      input.addData(("n1", boiler), ("n2", unique))
      q.processAllAvailable()
      val got = StreamingSpec.this.spark.table("neardup_guard").collect()
        .map(r => (r.getString(0), r.getString(1)))
      got.toSet shouldBe Set("n2" -> "h4")
    } finally q.stop()
  }

  test("streaming sessionize emits closed sessions on new-session arrival") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[StreamingOps.SessionEvent]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        StreamingOps.SessionEvent(7L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        StreamingOps.SessionEvent(7L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0))
      q.processAllAvailable()
      // a far-future event closes the first session
      input.addData(
        StreamingOps.SessionEvent(7L, Timestamp.valueOf("2024-01-01 05:00:00"), 4.0))
      q.processAllAvailable()
      val got = spark.table("sess").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Double]("value_sum")))
      got.toSet shouldBe Set((7L, 2L, 3.0))
    } finally q.stop()
  }

  test("stream-stream attributionJoin keeps only in-horizon clicks; batch twin agrees") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val out = StreamingOps.attributionJoin(
      clicks.toDF().toDF("event_id", "user_id", "ts"),
      purchases.toDF().toDF("p_id", "user_id", "p_ts"),
      horizon = "30 minutes")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()

    val clickRows = Seq(
      (101L, 1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (102L, 1L, Timestamp.valueOf("2024-01-01 10:20:00")),
      (201L, 2L, Timestamp.valueOf("2024-01-01 10:00:00")))
    val purchaseRows = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 10:25:00")), // 25 min & 5 min after u1's clicks
      (2L, 2L, Timestamp.valueOf("2024-01-01 11:00:00"))) // u2's click is 60 min out — drops
    try {
      clicks.addData(clickRows: _*)
      purchases.addData(purchaseRows: _*)
      q.processAllAvailable()
      val got = spark.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      got shouldBe Set((1L, 1L, 101L, 1500L), (1L, 1L, 102L, 300L))

      // batch twin: the IDENTICAL function over static frames (the
      // analyzer elides the watermark on batch inputs) — same rows
      val batch = StreamingOps.attributionJoin(
          clickRows.toDF("event_id", "user_id", "ts"),
          purchaseRows.toDF("p_id", "user_id", "p_ts"),
          horizon = "30 minutes")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      batch shouldBe got
    } finally q.stop()
  }

  test("left-outer attributionJoin null-pads unconverted clicks after state expiry") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamingOps.attributionJoin(
        clicks.toDF().toDF("event_id", "user_id", "ts"),
        purchases.toDF().toDF("p_id", "user_id", "p_ts"),
        horizon = "30 minutes", watermark = "0 seconds", joinType = "left_outer")
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        (101L, 1L, Timestamp.valueOf("2024-01-01 10:00:00")), // converts
        (301L, 3L, Timestamp.valueOf("2024-01-01 10:00:00"))) // never converts
      purchases.addData((1L, 1L, Timestamp.valueOf("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // advance BOTH watermarks far past 10:30 so u3's click state can
      // expire and the null verdict becomes provable, then run an extra
      // batch (eviction happens on the batch after the watermark moves)
      clicks.addData((999L, 9L, Timestamp.valueOf("2024-01-01 23:00:00")))
      purchases.addData((99L, 9L, Timestamp.valueOf("2024-01-02 23:00:00")))
      q.processAllAvailable()
      clicks.addData((998L, 9L, Timestamp.valueOf("2024-01-03 23:50:00")))
      purchases.addData((98L, 9L, Timestamp.valueOf("2024-01-03 23:50:00")))
      q.processAllAvailable()
      val got = spark.table("attrib_outer").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1),
          r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      got should contain ((1L, 1L, 101L, 300L))   // converted pair
      got should contain ((-1L, 3L, 301L, -1L))   // null-padded verdict
    } finally q.stop()
  }

  test("streaming hotKeyAlerts emits only over-budget keys per closed window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")

    val q = StreamingOps.hotKeyAlerts(events, "user_id", minCount = 3,
        windowDuration = "1 hour", watermark = "0 seconds")
      .writeStream.format("memory").queryName("hot_alerts")
      .outputMode(OutputMode.Append()).start()
    try {
      val at = (m: Int) => Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // user 7 fires 3 times in hour 10 (hot), user 8 only twice (cold)
      input.addData((at(5), 7L), (at(10), 7L), (at(20), 7L),
        (at(6), 8L), (at(30), 8L))
      q.processAllAvailable()
      // close hour 10; the closing event (hour 12) stays in-flight
      input.addData((Timestamp.valueOf("2024-01-01 12:00:01"), 9L))
      q.processAllAvailable()
      val got = spark.table("hot_alerts").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
      got.toSet shouldBe Set(("2024-01-01 10:00:00.0", 7L, 3L))
    } finally q.stop()
  }

  test("classifyStream scores arriving docs statelessly, matching the batch model") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val fitDocs = Seq(
      ("a1", "alpha beta alpha gamma", "news"),
      ("a2", "beta gamma alpha alpha", "news"),
      ("b1", "delta epsilon zeta zeta", "code"),
      ("b2", "zeta delta epsilon delta", "code")).toDF("doc", "line", "source")
    val model = graft.operators.Classify.fit(fitDocs, "source", numBuckets = 64)

    val input = MemoryStream[(String, String)]
    val q = StreamingOps.classifyStream(input.toDF().toDF("doc", "line"), model)
      .writeStream.format("memory").queryName("classified")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(("s1", "alpha gamma beta"), ("s2", "zeta delta delta"))
      q.processAllAvailable()
      input.addData(("s3", "alpha zeta")) // one token each way
      q.processAllAvailable()
      val got = spark.table("classified").collect()
        .map(r => r.getAs[String]("doc") -> r.getAs[String]("predicted")).toMap
      got("s1") shouldBe "news"
      got("s2") shouldBe "code"
      // alpha carries 4 news sightings vs zeta's 3 for code: ln 5 > ln 4
      got("s3") shouldBe "news"
      // batch twin: the same rows through scoreRowLocal agree
      val batch = graft.operators.Classify.scoreRowLocal(
          Seq(("s1", "alpha gamma beta"), ("s2", "zeta delta delta"),
            ("s3", "alpha zeta")).toDF("doc", "line"), model)
        .collect()
        .map(r => r.getAs[String]("doc") -> r.getAs[String]("predicted")).toMap
      got shouldBe batch
    } finally q.stop()
  }

  test("latestState: per-key winner is arrival-order-free and equals the batch upsert") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")

    val q = StreamingOps.latestState(events)
      .writeStream.format("memory").queryName("state")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(
        (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 1L, "click", 2.0),
        (5L, Timestamp.valueOf("2024-01-01 09:00:00"), 2L, "view", 5.0))
      q.processAllAvailable()
      // OLDER event for key (1, click) arrives late — must be a no-op;
      // a newer one for (2, view) replaces
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0),
        (6L, Timestamp.valueOf("2024-01-01 12:00:00"), 2L, "view", 6.0))
      q.processAllAvailable()
      // update mode re-emits keys across batches: last row per key wins
      val got = spark.table("state").collect()
        .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
        .foldLeft(Map.empty[(Long, String), Long])(_ + _)
      got shouldBe Map((1L, "click") -> 2L, (2L, "view") -> 6L)

      val all = Seq(
        (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 1L, "click", 2.0),
        (5L, Timestamp.valueOf("2024-01-01 09:00:00"), 2L, "view", 5.0),
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0),
        (6L, Timestamp.valueOf("2024-01-01 12:00:00"), 2L, "view", 6.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = graft.operators.Merge.upsertLatest(
          all.where(org.apache.spark.sql.functions.lit(false)), all,
          Seq("user_id", "event_type"), Seq("ts", "event_id"))
        .collect().map(r => ((r.getLong(2), r.getString(3)), r.getLong(0))).toMap
      got shouldBe batch
    } finally q.stop()
  }

  test("transitionStream emits per-user edges; aggregated ≡ the batch matrix; late rows drop") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val stream = input.toDF().toDF("user_id", "ts", "event_id", "event_type")
      .as[graft.streaming.StreamingOps.TransitionEvent]
    val q = graft.streaming.StreamingOps.transitionStream(stream)
      .writeStream.format("memory").queryName("transitions")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // batch 1: u1 view→view, u2 view
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "view"),
        (1L, Timestamp.valueOf("2024-01-01 10:01:00"), 2L, "view"),
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 3L, "view"))
      q.processAllAvailable()
      // batch 2: u1 buy (edge view→buy), u2 buy (edge view→buy), and a
      // LATE u1 row older than its state — must drop silently
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:05:00"), 4L, "buy"),
        (2L, Timestamp.valueOf("2024-01-01 10:06:00"), 5L, "buy"),
        (1L, Timestamp.valueOf("2024-01-01 09:00:00"), 9L, "view"))
      q.processAllAvailable()
      val got = spark.table("transitions").collect()
        .map(r => (r.getString(1), r.getString(2)))
      got.groupBy(identity).view.mapValues(_.length.toLong).toMap shouldBe Map(
        ("view", "view") -> 1L, ("view", "buy") -> 2L)
      // the IN-ORDER rows aggregate to the batch matrix
      val inOrder = Seq(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "view", 0.0),
        (1L, Timestamp.valueOf("2024-01-01 10:01:00"), 2L, "view", 0.0),
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 3L, "view", 0.0),
        (1L, Timestamp.valueOf("2024-01-01 10:05:00"), 4L, "buy", 0.0),
        (2L, Timestamp.valueOf("2024-01-01 10:06:00"), 5L, "buy", 0.0))
        .toDF("user_id", "ts", "event_id", "event_type", "value")
      val batch = graft.operators.Events.typeTransitions(inOrder).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      got.groupBy(identity).view.mapValues(_.length.toLong).toMap shouldBe batch
    } finally q.stop()
  }

  test("seasonalAlerts: live windows score against the batch baseline; unknown slots alert") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // history: type a @ hod 10 over two days with counts 2 and 2 →
    // slot mean 2 (slot_hours 2, slot_total 4)
    val hist = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a", 1.0),
      (2L, Timestamp.valueOf("2024-01-01 10:30:00"), 1L, "a", 1.0),
      (3L, Timestamp.valueOf("2024-01-02 10:00:00"), 1L, "a", 1.0),
      (4L, Timestamp.valueOf("2024-01-02 10:30:00"), 1L, "a", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val baseline = graft.operators.Events.seasonalBaseline(hist)

    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = graft.streaming.StreamingOps
      .seasonalAlerts(events, baseline, watermark = "0 seconds")
      .writeStream.format("memory").queryName("seasonal")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        // hod 10, count 5 → ratio 2.5 > 2.0 → alert
        (Timestamp.valueOf("2024-01-03 10:01:00"), "a", 1.0),
        (Timestamp.valueOf("2024-01-03 10:02:00"), "a", 1.0),
        (Timestamp.valueOf("2024-01-03 10:03:00"), "a", 1.0),
        (Timestamp.valueOf("2024-01-03 10:04:00"), "a", 1.0),
        (Timestamp.valueOf("2024-01-03 10:05:00"), "a", 1.0),
        // unknown type → no baseline → alert with null ratio
        (Timestamp.valueOf("2024-01-03 10:10:00"), "zz", 1.0))
      q.processAllAvailable()
      input.addData(
        // hod 11: unknown SLOT for a known type → alert; also closes hour 10
        (Timestamp.valueOf("2024-01-03 11:30:00"), "a", 1.0),
        (Timestamp.valueOf("2024-01-03 11:31:00"), "a", 1.0))
      q.processAllAvailable()
      // next day, hod 10 again with an IN-BAND count (2 vs slot mean
      // 2 → ratio 1.0): the window must emit flagged FALSE
      input.addData(
        (Timestamp.valueOf("2024-01-04 10:01:00"), "a", 1.0),
        (Timestamp.valueOf("2024-01-04 10:02:00"), "a", 1.0))
      q.processAllAvailable()
      input.addData((Timestamp.valueOf("2024-01-04 13:00:01"), "a", 1.0))
      q.processAllAvailable()
      val got = spark.table("seasonal").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
          (r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double]),
            r.getBoolean(5))).toMap
      got(("2024-01-03 10:00:00.0", "a")) shouldBe ((5L, Some(2.5), true))
      got(("2024-01-03 10:00:00.0", "zz")) shouldBe ((1L, None, true))
      got(("2024-01-03 11:00:00.0", "a")) shouldBe ((2L, None, true))
      got(("2024-01-04 10:00:00.0", "a")) shouldBe ((2L, Some(1.0), false))
    } finally q.stop()
  }

  test("checksumStream: running state equals the batch checksum for any batch slicing") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(String, Long, String)]
    val q = graft.streaming.StreamingOps
      .checksumStream(input.toDF().toDF("source", "doc", "line"))
      .writeStream.format("memory").queryName("cksum")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(("s1", 1L, "x"), ("s1", 2L, "y"))
      q.processAllAvailable()
      input.addData(("s2", 3L, "z"), ("s1", 4L, "w"))
      q.processAllAvailable()
      // update mode re-emits; keep the LAST row per source
      val got = spark.table("cksum").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getString(2))))
        .foldLeft(Map.empty[String, (Long, String)])(_ + _)
      val batch = graft.operators.Pipeline.corpusChecksum(
          Seq(("s1", 1L, "x"), ("s1", 2L, "y"), ("s2", 3L, "z"), ("s1", 4L, "w"))
            .toDF("source", "doc", "line"), "source", "doc", "line")
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
      got shouldBe batch
    } finally q.stop()
  }

  test("exactly-once sink: a duplicated-batch replay leaves the corpus checksum unchanged") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val sink = java.nio.file.Files.createTempDirectory("graft-eos-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-eos-ckpt").toString
    val input = MemoryStream[(String, Long, String)]
    val q = StreamingOps.exactlyOnceParquetSink(
      input.toDF().toDF("source", "doc", "line"), sink, ckpt)
    try {
      input.addData(("s1", 1L, "x"), ("s1", 2L, "y"))
      q.processAllAvailable()
      input.addData(("s2", 3L, "z"), ("s1", 4L, "w"))
      q.processAllAvailable()
    } finally q.stop()

    def checksum(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Pipeline
        .corpusChecksum(df, "source", "doc", "line")
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap

    val expected = checksum(
      Seq(("s1", 1L, "x"), ("s1", 2L, "y"), ("s2", 3L, "z"), ("s1", 4L, "w"))
        .toDF("source", "doc", "line"))
    val sunk = () => checksum(
      spark.read.parquet(sink).select("source", "doc", "line"))
    sunk() shouldBe expected

    // REPLAY: failure recovery re-invokes foreachBatch with the SAME
    // batchId and rows — simulate it by re-running batch 1's write
    // directly. Idempotent overwrite ⇒ the checksum must not move.
    StreamingOps.idempotentBatchWrite(
      Seq(("s2", 3L, "z"), ("s1", 4L, "w")).toDF("source", "doc", "line"),
      batchId = 1L, path = sink)
    sunk() shouldBe expected

    // control: the same replay through a naive APPEND sink would have
    // doubled batch 1 and moved the checksum — prove the dedup is
    // doing the work, not the fixture
    Seq(("s2", 3L, "z"), ("s1", 4L, "w")).toDF("source", "doc", "line")
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(1L))
      .write.mode("append").partitionBy("batch_id").parquet(sink)
    sunk() should not be expected
  }

  test("noveltyScreen scores arriving docs row-locally, matching the batch tier at tiny fpp") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val hist = Seq(("h1", "a b c d e f")).toDF("doc", "line")
    val input = MemoryStream[(String, String)]
    val q = StreamingOps.noveltyScreen(
        input.toDF().toDF("doc", "line"), hist, fpp = 1e-4)
      .writeStream.format("memory").queryName("novelty")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(("n1", "x y z w"), ("n2", "a b c d"))
      q.processAllAvailable()
      input.addData(("n3", "c d e q"), ("n4", "a b"))
      q.processAllAvailable()
      val got = spark.table("novelty").collect()
        .map(r => r.getAs[String]("doc") ->
          (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel_est"),
            Option(r.getAs[Any]("novelty_est")))).toMap
      val batch = graft.operators.Pipeline.noveltyScore(
          Seq(("n1", "x y z w"), ("n2", "a b c d"), ("n3", "c d e q"),
            ("n4", "a b")).toDF("doc", "line"), hist)
        .collect()
        .map(r => r.getAs[String]("doc") ->
          (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
            Option(r.getAs[Any]("novelty")))).toMap
      got shouldBe batch
      got("n1") shouldBe ((2L, 2L, Some(1.0)))
    } finally q.stop()
  }

  test("contaminationScreen flags arriving docs row-locally, matching ngramDecontaminate at tiny fpp") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // n=3 keeps the fixture readable; the operator defaults to the
    // GPT-3-style n=13 in production.
    val bench = Seq(("b1", "a b c d e f")).toDF("doc", "line")
    val input = MemoryStream[(String, String)]
    val q = StreamingOps.contaminationScreen(
        input.toDF().toDF("doc", "line"), bench, n = 3, fpp = 1e-4)
      .writeStream.format("memory").queryName("contamination")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(("d1", "x a b c d y"), ("d2", "p q r s t"))
      q.processAllAvailable()
      input.addData(("d3", "a b"), ("d4", "c d e f g"))
      q.processAllAvailable()
      val got = spark.table("contamination").collect()
        .map(r => r.getAs[String]("doc") ->
          (r.getAs[Long]("n_hits_est"), r.getAs[Boolean]("contaminated_est"))).toMap
      val batch = graft.operators.Dedup.ngramDecontaminate(
          Seq(("d1", "x a b c d y"), ("d2", "p q r s t"), ("d3", "a b"),
            ("d4", "c d e f g")).toDF("doc", "line"), bench, n = 3)
        .collect()
        .map(r => r.getAs[String]("doc") ->
          (r.getAs[Long]("n_hits"), r.getAs[Boolean]("contaminated"))).toMap
      got shouldBe batch
      // d1 shares "a b c" and "b c d"; d3 is sub-n and must screen clean
      got("d1") shouldBe ((2L, true))
      got("d3") shouldBe ((0L, false))
    } finally q.stop()
  }

  test("klScreen scores arrivals row-locally, EXACTLY equal to the batch tier") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val hist = Seq(("h", "x x y y")).toDF("doc", "line")
    val arrivals = Seq(
      ("a", "x x y"),   // fully seen
      ("b", "x z z"),   // unseen term
      ("c", "q q q q")) // ALL unseen
    val input = MemoryStream[(String, String)]
    val q = StreamingOps.klScreen(input.toDF().toDF("doc", "line"), hist)
      .writeStream.format("memory").queryName("klscreen")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      input.addData(arrivals.drop(2) :+ (("e", " ")): _*)
      q.processAllAvailable()
      val got = spark.table("klscreen").collect()
        .map(r => r.getAs[String]("doc") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_unseen"),
            r.getAs[Long]("kl_unats")))).toMap
      val batch = graft.operators.Pipeline.klNoveltyAgainst(
          arrivals.toDF("doc", "line"), hist)
        .collect()
        .map(r => r.getAs[String]("doc") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_unseen"),
            r.getAs[Long]("kl_unats")))).toMap
      // exact equality on every tokenful arrival — same quantization,
      // same operation order, no tolerance
      batch.foreach { case (d, v) => got(d) shouldBe v }
      // the stream audits EVERY arrival: token-less rows score 0/0/0
      // (the batch tier has no tf rows for them)
      got("e") shouldBe ((0L, 0L, 0L))
    } finally q.stop()
  }

  test("klScreen's bounded model treats pruned tail terms as unseen mass") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // history masses: x=4, y=2, z=1, ctot=7. maxModelTerms=2 keeps
    // {x:4, y:2} (top mass, term tie-break) and prunes z — which must
    // then score exactly like a never-seen term (q150's unseen-mass
    // convention), while kept terms keep their FULL-ctot q values.
    val hist = Seq(("h", "x x x x y y z")).toDF("doc", "line")
    val input = MemoryStream[(String, String)]
    val q = StreamingOps.klScreen(
        input.toDF().toDF("doc", "line"), hist, maxModelTerms = 2)
      .writeStream.format("memory").queryName("klscreen_bounded")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(("a", "x y z z"))
      q.processAllAvailable()
      val got = spark.table("klscreen_bounded").collect()
        .map(r => r.getAs[String]("doc") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_unseen"),
            r.getAs[Long]("kl_unats")))).toMap
      // the batch twin over the SAME bounded model: history with z's
      // rows deleted from the vocabulary but its mass still in ctot —
      // equivalently, klNoveltyAgainst where z is a genuinely-unseen
      // term and x/y keep q = 4/7 and 2/7. Hand-fold:
      //   p_x = 1/4, c_x = floor(1e6 · ¼·ln((1/4)/(4/7)))
      //   p_y = 1/4, c_y = floor(1e6 · ¼·ln((1/4)/(2/7)))
      //   z: 2 tokens of unseen mass
      def c(p: Double, q0: Double): Long =
        math.floor(p * math.log(p / q0) * 1e6).toLong
      val expectKl = c(0.25, 4.0 / 7.0) + c(0.25, 2.0 / 7.0)
      got("a") shouldBe ((4L, 2L, expectKl))
    } finally q.stop()
  }

  test("gapRegularityStream: last row per user equals the batch tier; late rows drop") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (1L, Timestamp.valueOf("2024-01-01 10:00:10"), 2L),
      (1L, Timestamp.valueOf("2024-01-01 10:00:20"), 3L),
      (1L, Timestamp.valueOf("2024-01-01 10:00:30"), 4L),
      (1L, Timestamp.valueOf("2024-01-01 10:00:40"), 5L),
      (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 6L),
      (2L, Timestamp.valueOf("2024-01-01 10:00:01"), 7L),
      (2L, Timestamp.valueOf("2024-01-01 10:00:02"), 8L),
      (2L, Timestamp.valueOf("2024-01-01 10:00:03"), 9L),
      (2L, Timestamp.valueOf("2024-01-01 10:01:40"), 10L))
    val input = MemoryStream[(Long, Timestamp, Long)]
    val q = StreamingOps.gapRegularityStream(
        input.toDF().toDF("user_id", "ts", "event_id")
          .as[graft.streaming.StreamingOps.GapEvent], minEvents = 5)
      .writeStream.format("memory").queryName("gapreg")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(rows.take(9): _*)
      q.processAllAvailable()
      // a cross-batch LATE arrival for user 2 (older than event 9's ts,
      // already in state) must drop
      input.addData((2L, Timestamp.valueOf("2024-01-01 10:00:01"), 99L))
      input.addData(rows.drop(9): _*)
      q.processAllAvailable()
      val got = spark.table("gapreg").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")) ->
          ((r.getAs[Long]("n_events"), r.getAs[Long]("n_gaps"),
            r.getAs[Double]("mean_gap_s"), r.getAs[Double]("cv"))))
        .toMap
      // the late event_id 99 emitted nothing
      got.keySet.map(_._2) should not contain 99L
      // last emitted row per user equals the batch tier over the prefix
      val batch = graft.operators.Events.userGapRegularity(
          rows.map { case (u, t, id) => (u, t, id, "a", 0.0) }
            .toDF("user_id", "ts", "event_id", "event_type", "value"),
          minEvents = 5)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      got((1L, 5L)) shouldBe batch(1L)
      got((2L, 10L)) shouldBe batch(2L)
    } finally q.stop()
  }

  test("ewmaStream equals the batch EWMA on in-order replays; late rows drop") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Long, Timestamp, Long, Double)]
    val stream = input.toDF().toDF("user_id", "ts", "event_id", "value")
      .as[graft.streaming.StreamingOps.EwmaEvent]
    val q = graft.streaming.StreamingOps.ewmaStream(stream, nRows = 3, alpha = 0.2)
      .writeStream.format("memory").queryName("ewma")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
        (1L, Timestamp.valueOf("2024-01-01 10:01:00"), 2L, 2.0),
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 3L, 7.0))
      q.processAllAvailable()
      // batch 2 continues each user's frame across the state store,
      // a 4th u1 row evicts the oldest from the nRows=3 deque, and a
      // LATE u1 row older than its stored newest must drop silently
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 10:02:00"), 4L, 3.0),
        (1L, Timestamp.valueOf("2024-01-01 10:03:00"), 5L, 4.0),
        (2L, Timestamp.valueOf("2024-01-01 10:05:00"), 6L, 8.0),
        (1L, Timestamp.valueOf("2024-01-01 09:00:00"), 9L, 100.0))
      q.processAllAvailable()
      val got = spark.table("ewma").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma")).toMap
      got.keySet should not contain 9L // late: dropped, never averaged
      val inOrder = Seq(
        (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
        (1L, Timestamp.valueOf("2024-01-01 10:01:00"), 2L, 2.0),
        (2L, Timestamp.valueOf("2024-01-01 10:00:00"), 3L, 7.0),
        (1L, Timestamp.valueOf("2024-01-01 10:02:00"), 4L, 3.0),
        (1L, Timestamp.valueOf("2024-01-01 10:03:00"), 5L, 4.0),
        (2L, Timestamp.valueOf("2024-01-01 10:05:00"), 6L, 8.0))
        .toDF("user_id", "ts", "event_id", "value")
      val batch = graft.operators.Events.userEwma(inOrder, nRows = 3, alpha = 0.2)
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("ewma")).toMap
      got shouldBe batch // EXACT equality — same weights, fold, rounding
    } finally q.stop()
  }

  test("streaming bowScreen drops shuffled history copies, passes novel docs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val history = Seq(("h1", "the quick brown fox")).toDF("doc", "line")
    val input = MemoryStream[(String, String)]
    val q = StreamingOps.bowScreen(input.toDF().toDF("doc", "line"), history)
      .writeStream.format("memory").queryName("bowscreen")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(
        ("n1", "fox brown quick the"), // shuffled copy → dropped
        ("n2", "novel words here"))
      q.processAllAvailable()
      val got = spark.table("bowscreen").collect().map(_.getString(0)).toSeq
      got shouldBe Seq("n2")
      // batch-twin parity
      val batch = graft.operators.Dedup.bowDedupAgainst(
          Seq(("n1", "fox brown quick the"), ("n2", "novel words here"))
            .toDF("doc", "line"),
          graft.operators.Dedup.bowFingerprints(history))
        .collect().map(_.getString(0)).toSeq
      got shouldBe batch
    } finally q.stop()
  }

  test("streaming hashedCosineScreen matches the batch incremental twin exactly") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val history = Seq(
      ("h1", "p q p r s t"),
      ("h2", "completely different words here entirely now"))
      .toDF("doc", "line")
    val arrivals = Seq(
      ("n1", "t s r p q p extra"), // near-permutation of h1 → high cos
      ("n2", "novel content with no overlap anywhere"),
      ("n3", ""))                  // token-less: no vector, must not emit
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("doc", "line")

    val q = StreamingOps.hashedCosineScreen(stream, history,
        dims = 32, threshold = 0.5)
      .writeStream.format("memory").queryName("hashedcos")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("hashedcos").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val batch = graft.operators.Dedup.hashedCosineAgainst(
          arrivals.toDF("doc", "line"), history,
          dims = 32, threshold = 0.5)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
        .toMap
      got shouldBe batch // EXACT parity: same vectors, dot, rounding
      got.keySet.map(_._1) should contain("n1")
      got.keySet.map(_._1) should not contain "n3"
    } finally q.stop()
  }

  test("streaming hashedCosineScreen hot-bucket guard: candidates shaped, cosines exact") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // 'common' hits every history doc → its bucket goes hot at
    // maxBucketDocs = 2; a/b still pair with h1 via their cold terms,
    // and the emitted cosine must equal the wide-open guard's value
    val history = Seq(
      ("h1", "common rare rare"),
      ("h2", "common solo1"),
      ("h3", "common solo2"))
      .toDF("doc", "line")
    val input = MemoryStream[(String, String)]
    val stream = input.toDF().toDF("doc", "line")
    val q = StreamingOps.hashedCosineScreen(stream, history,
        dims = 32, threshold = 0.1, maxBucketDocs = 2L)
      .writeStream.format("memory").queryName("hashedcosguard")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(("a", "common rare rare other"), ("b", "common onlyhot"))
      q.processAllAvailable()
      val got = spark.table("hashedcosguard").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      // a reaches h1 through the cold 'rare' bucket
      got.keySet should contain(("a", "h1"))
      // b shares ONLY the hot bucket → never a candidate
      got.keySet.map(_._1) should not contain "b"
      // the guard is answer-invisible on survivors: wide-open batch agrees
      val open = graft.operators.Dedup.hashedCosineAgainst(
          Seq(("a", "common rare rare other")).toDF("doc", "line"), history,
          dims = 32, threshold = 0.1)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
        .toMap
      got.foreach { case (k, v) => open(k) shouldBe v }
    } finally q.stop()
  }

  test("cusumStream equals the frozen-parameter batch CUSUM; late rows drop") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // fit slice: type m steady around 10 (even ids); type zz is absent
    // from the params map and must score null downstream
    val fit = Seq.tabulate(8) { i =>
      (i * 2L, Timestamp.valueOf(f"2024-01-01 ${i}%02d:00:00"), 1L, "m",
        Seq(9.0, 10.0, 11.0, 10.0)(i % 4))
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val paramRows = graft.operators.Events.cusumParams(fit, 0.5, 2.0)
      .where(org.apache.spark.sql.functions.col("ok")).collect()
    val params = paramRows.map(r => r.getString(0) ->
      StreamingOps.CusumTypeParams(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    params.keySet shouldBe Set("m")

    // live slice: a sustained upward step on m + a zz row (no params)
    val live = Seq(
      ("m", "2024-01-01 10:00:00", 1L, 13.0),
      ("m", "2024-01-01 11:00:00", 3L, 13.5),
      ("zz", "2024-01-01 10:30:00", 5L, 4.0),
      ("m", "2024-01-01 12:00:00", 7L, 14.0),
      ("m", "2024-01-01 13:00:00", 9L, 13.0))
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val stream = input.toDF().toDF("event_type", "ts", "event_id", "value")
      .as[StreamingOps.CusumEvent]
    val q = StreamingOps.cusumStream(stream, params)
      .writeStream.format("memory").queryName("cusum")
      .outputMode(OutputMode.Append())
      .start()
    try {
      def add(rows: Seq[(String, String, Long, Double)]): Unit = {
        input.addData(rows.map { case (t, ts, id, v) =>
          (t, Timestamp.valueOf(ts), id, v)
        })
        q.processAllAvailable()
      }
      add(live.take(3))
      // batch 2: state carries across; one cross-batch LATE m row
      // (older than the newest stored) must drop silently
      add(live.drop(3) :+ (("m", "2024-01-01 09:00:00", 99L, 50.0)))
      val got = spark.table("cusum").collect().map { r =>
        r.getAs[Long]("event_id") ->
          ((Option(r.get(4)).map(_.asInstanceOf[Long]),
            Option(r.get(5)).map(_.asInstanceOf[Long]),
            r.getAs[Boolean]("is_alarm"), Option(r.getAs[String]("side"))))
      }.toMap
      got.keySet shouldBe Set(1L, 3L, 5L, 7L, 9L) // late 99 dropped
      // EXACT equality with the batch tier on the in-order replay
      val liveDf = live.map { case (t, ts, id, v) =>
        (id, Timestamp.valueOf(ts), 1L, t, v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val batch = graft.operators.Events
        .cusumScoresAgainst(fit, liveDf, 0.5, 2.0)
        .collect().map { r =>
          r.getAs[Long]("event_id") ->
            ((Option(r.get(4)).map(_.asInstanceOf[Long]),
              Option(r.get(5)).map(_.asInstanceOf[Long]),
              r.getAs[Boolean]("is_alarm"), Option(r.getAs[String]("side"))))
        }.toMap
      got shouldBe batch
      // the sustained step must actually alarm somewhere on the stream
      got.values.map(_._3) should contain(true)
      // the unparameterized type scores null and never alarms
      got(5L) shouldBe ((None, None, false, None))
    } finally q.stop()
  }

  test("streaming ingestScreen: row-identical to Pipeline.dailyIngest at both thresholds") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val hist = corpus(
      "h1" -> "the quick brown fox jumps over the lazy dog today",
      "h2" -> "completely different historical content about spark engines")
    val hsp = graft.operators.Dedup.leakageSafeSplit(hist, valPerMille = 100)
      .select(col("doc"), col("split"))
    val delta = Seq(
      "n1" -> "the quick brown fox jumps over the lazy dog today", // exact dup of h1
      "n2" -> "the quick brown fox jumps over the lazy dog tonight", // J~0.8 vs h1
      "n3" -> "entirely novel arrival with its own fresh vocabulary",
      "n4" -> "two words") // shingle-less: no bands, hash-rule split

    // threshold 0.5: n2 is a near-dup; threshold 0.9: n2 survives the
    // near-dup screen but INHERITS h1's split through the shared bucket
    for (tau <- Seq(0.5, 0.9)) {
      val batch = graft.operators.Pipeline.dailyIngest(
          delta.toDF("doc", "line"), hist, Some(hsp), nearDupThreshold = tau)
        .collect()
        .map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2)),
          Option(r.getString(3))))).toMap

      val input = MemoryStream[(String, String)]
      val q = StreamingOps.ingestScreen(
          input.toDF().toDF("doc", "line"), hist, hsp, nearDupThreshold = tau,
          allowDerivedState = true)
        .writeStream.format("memory").queryName(s"ingest_$tau".replace('.', '_'))
        .outputMode(OutputMode.Append())
        .start()
      try {
        input.addData(delta: _*)
        q.processAllAvailable()
        val got = StreamingSpec.this.spark
          .table(s"ingest_$tau".replace('.', '_')).collect()
          .map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2)),
            Option(r.getString(3))))).toMap
        got shouldBe batch
      } finally q.stop()
    }
    // sanity on the fixture's intent (not just mutual agreement)
    val b9 = graft.operators.Pipeline.dailyIngest(
        delta.toDF("doc", "line"), hist, Some(hsp), nearDupThreshold = 0.9)
      .collect().map(r => r.getString(0) -> ((r.getString(1),
        Option(r.getString(2))))).toMap
    b9("n1")._1 shouldBe "dropped_exact"
    b9("n2") shouldBe (("kept", Some("h1"))) // split-anchor inherit survives

    // the production shape: a PERSISTED prebuilt index yields the
    // identical stream (the caller owns the index lifecycle)
    val idx = StreamingOps.ingestIndex(hist, hsp).persist()
    try {
      val batch5 = graft.operators.Pipeline.dailyIngest(
          delta.toDF("doc", "line"), hist, Some(hsp), nearDupThreshold = 0.5)
        .collect()
        .map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2)),
          Option(r.getString(3))))).toMap
      val input2 = MemoryStream[(String, String)]
      val q2 = StreamingOps.ingestScreen(
          input2.toDF().toDF("doc", "line"), hist, hsp,
          nearDupThreshold = 0.5, precomputedIndex = Some(idx),
          allowDerivedState = true)
        .writeStream.format("memory").queryName("ingest_prebuilt")
        .outputMode(OutputMode.Append())
        .start()
      try {
        input2.addData(delta: _*)
        q2.processAllAvailable()
        StreamingSpec.this.spark.table("ingest_prebuilt").collect()
          .map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2)),
            Option(r.getString(3))))).toMap shouldBe batch5
      } finally q2.stop()
    } finally idx.unpersist()

    // the derived-state footgun is LOUD: without the explicit opt-in
    // (and without a packaged state) construction fails — the
    // requireScope philosophy applied to stream-start history rebuilds
    val inputG = MemoryStream[(String, String)]
    an[IllegalArgumentException] should be thrownBy
      StreamingOps.ingestScreen(inputG.toDF().toDF("doc", "line"), hist, hsp)
  }

  test("ingestScreenFromState: one persisted artifact, history never touched") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val hist = corpus(
      "h1" -> "the quick brown fox jumps over the lazy dog today",
      "h2" -> "completely different historical content about spark engines")
    val hsp = graft.operators.Dedup.leakageSafeSplit(hist, valPerMille = 100)
      .select(col("doc"), col("split"))
    val delta = Seq(
      "n1" -> "the quick brown fox jumps over the lazy dog today",
      "n2" -> "the quick brown fox jumps over the lazy dog tonight",
      "n3" -> "entirely novel arrival with its own fresh vocabulary",
      "n4" -> "two words")
    val batch = graft.operators.Pipeline.dailyIngest(
        delta.toDF("doc", "line"), hist, Some(hsp), nearDupThreshold = 0.5)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2)),
        Option(r.getString(3))))).toMap

    // build ONCE, write ONE artifact, read it back — the stream start
    // below sees only the read-back frame (historyDocs cannot be
    // touched: it is not even an argument)
    val dir = java.nio.file.Files.createTempDirectory("ingest_state").toString
    StreamingOps.ingestState(hist, hsp).write.mode("overwrite").parquet(dir)
    val state = spark.read.parquet(dir)

    val input = MemoryStream[(String, String)]
    val q = StreamingOps.ingestScreenFromState(
        input.toDF().toDF("doc", "line"), state, nearDupThreshold = 0.5)
      .writeStream.format("memory").queryName("ingest_from_state")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(delta: _*)
      q.processAllAvailable()
      StreamingSpec.this.spark.table("ingest_from_state").collect()
        .map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2)),
          Option(r.getString(3))))).toMap shouldBe batch
    } finally q.stop()

    // derivation params TRAVEL WITH the artifact: a state built at
    // non-default (numHashes=8, rowsPerBand=2) replays the matching
    // batch composition with no params repeated at the stream start
    val batch82 = graft.operators.Pipeline.dailyIngest(
        delta.toDF("doc", "line"), hist, Some(hsp), nearDupThreshold = 0.5,
        numHashes = 8, rowsPerBand = 2)
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2)),
        Option(r.getString(3))))).toMap
    val dir82 = java.nio.file.Files.createTempDirectory("ingest_state82").toString
    StreamingOps.ingestState(hist, hsp, numHashes = 8, rowsPerBand = 2)
      .write.mode("overwrite").parquet(dir82)
    val input82 = MemoryStream[(String, String)]
    val q82 = StreamingOps.ingestScreenFromState(
        input82.toDF().toDF("doc", "line"), spark.read.parquet(dir82),
        nearDupThreshold = 0.5)
      .writeStream.format("memory").queryName("ingest_from_state82")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input82.addData(delta: _*)
      q82.processAllAvailable()
      StreamingSpec.this.spark.table("ingest_from_state82").collect()
        .map(r => r.getString(0) -> ((r.getString(1), Option(r.getString(2)),
          Option(r.getString(3))))).toMap shouldBe batch82
    } finally q82.stop()

    // a frame that is NOT an ingestState artifact (no meta row) fails
    // loudly at construction, not silently with wrong band keys
    an[IllegalArgumentException] should be thrownBy
      StreamingOps.ingestScreenFromState(
        input.toDF().toDF("doc", "line"),
        state.where(col("section") =!= "meta"))
  }

  test("streaming mediaNearDupScreen matches imageNearDupAgainst, any modality") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal

    // the MultimodalSpec incremental fixture: base + k-char flips
    val base = ('a' to 'z').mkString * 8
    def flip(k: Int) = {
      val sb = new StringBuilder(base)
      (0 until k).foreach(f => sb.setCharAt(f * 19 + 3, '~'))
      sb.toString
    }
    def corpusDf(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => i.toString -> t }.toDF("doc", "line")
    val histHashes = Multimodal.imageAHash(Multimodal.encodeAssets(
      corpusDf(Seq(0L -> base, 3L -> flip(1), 6L -> flip(2)))))
    val deltaRows = Seq(300L -> base, 303L -> flip(1),
      306L -> ("~" * 208), 309L -> ("~" * 208)) // delta-delta pair: silent
    val deltaHashes = Multimodal.imageAHash(Multimodal.encodeAssets(
      corpusDf(deltaRows)))
      .select(col("asset_id"), col("ahash")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val batch = Multimodal.imageNearDupAgainst(
        Multimodal.imageAHash(Multimodal.encodeAssets(corpusDf(deltaRows))),
        histHashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val input = MemoryStream[(Long, Long)]
    val q = StreamingOps.mediaNearDupScreen(
        input.toDF().toDF("asset_id", "ahash"), histHashes)
      .writeStream.format("memory").queryName("media_screen")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input.addData(deltaHashes.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = StreamingSpec.this.spark.table("media_screen").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      got shouldBe batch
      got should not be empty
      // delta-delta duplicates never pair with each other (history-only)
      got.foreach { case (_, m, _) => Set(0L, 3L, 6L) should contain(m) }
    } finally q.stop()

    // production shape: a PERSISTED prebuilt per-bucket index yields the
    // identical stream (no per-batch explode+groupBy over raw history)
    val idx = StreamingOps.mediaNearDupIndex(histHashes).persist()
    try {
      val input2 = MemoryStream[(Long, Long)]
      val q2 = StreamingOps.mediaNearDupScreen(
          input2.toDF().toDF("asset_id", "ahash"), histHashes,
          precomputedIndex = Some(idx))
        .writeStream.format("memory").queryName("media_screen_prebuilt")
        .outputMode(OutputMode.Append())
        .start()
      try {
        input2.addData(deltaHashes.toIndexedSeq: _*)
        q2.processAllAvailable()
        StreamingSpec.this.spark.table("media_screen_prebuilt").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet shouldBe batch
      } finally q2.stop()
    } finally idx.unpersist()

    // the WIDE band layout streams too (the batch tier's 4×14 escape
    // hatch, same pigeonhole contract at maxDist ≤ 3) — parity with the
    // batch screen at the same layout
    val batchWide = Multimodal.imageNearDupAgainst(
        Multimodal.imageAHash(Multimodal.encodeAssets(corpusDf(deltaRows))),
        histHashes, maxDist = 3, nBands = 4, bandBits = 14)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val input3 = MemoryStream[(Long, Long)]
    val q3 = StreamingOps.mediaNearDupScreen(
        input3.toDF().toDF("asset_id", "ahash"), histHashes,
        maxDist = 3, nBands = 4, bandBits = 14)
      .writeStream.format("memory").queryName("media_screen_wide")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input3.addData(deltaHashes.toIndexedSeq: _*)
      q3.processAllAvailable()
      StreamingSpec.this.spark.table("media_screen_wide").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet shouldBe batchWide
    } finally q3.stop()

    // PRODUCTION stream start: one persisted mediaScreenState artifact
    // (parquet roundtrip) carries index + band layout; FromState takes
    // no layout args and no history, and streams identically
    val stDir = java.nio.file.Files
      .createTempDirectory("graft-media-state").toString
    StreamingOps.mediaScreenState(histHashes)
      .write.mode("overwrite").parquet(stDir)
    val state = StreamingSpec.this.spark.read.parquet(stDir)
    val input4 = MemoryStream[(Long, Long)]
    val q4 = StreamingOps.mediaNearDupScreenFromState(
        input4.toDF().toDF("asset_id", "ahash"), state)
      .writeStream.format("memory").queryName("media_screen_state")
      .outputMode(OutputMode.Append())
      .start()
    try {
      input4.addData(deltaHashes.toIndexedSeq: _*)
      q4.processAllAvailable()
      StreamingSpec.this.spark.table("media_screen_state").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet shouldBe batch
    } finally q4.stop()
    // a frame that is NOT a state artifact (no meta row) fails loudly
    an[IllegalArgumentException] should be thrownBy
      StreamingOps.mediaNearDupScreenFromState(
        StreamingSpec.this.spark.range(1)
          .selectExpr("id as asset_id", "id as ahash"),
        state.where(col("section") =!= "meta"))
  }

  test("streaming mediaWindowNearDupScreen: pair evidence rolls up to the batch verdict") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal

    // the MultimodalSpec shared-segment fixture: two clips reusing a
    // window-aligned span of a history clip, one unrelated
    val shared = "a shared jingle segment that both clips reuse yes " * 2
    val histA = ("intro of clip a " * 4) + shared + ("outro a " * 8)
    val histC = "completely unrelated audio content with nothing shared " * 4
    def corpusDf(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => i.toString -> t }.toDF("doc", "line")
    val histWindows = Multimodal.audioAHashWindows(
      Multimodal.encodeAssets(corpusDf(Seq(1L -> histA, 7L -> histC))),
      windowSamples = 64)
    // ids ≡ 1 (mod 3): encodeAssets' audio modality slot
    val deltaRows = Seq(
      301L -> (("b opening here! " * 8) + shared + ("its own end " * 6)),
      304L -> ("fresh arrival with no reused footage at all here " * 3),
      307L -> histC, // whole-history copy: every window matches
      310L -> histC) // delta-delta dup of 307: must stay SILENT between them
    val deltaWindows = Multimodal.audioAHashWindows(
      Multimodal.encodeAssets(corpusDf(deltaRows)), windowSamples = 64)
    val batch = Multimodal.ahashWindowNearDupAgainst(deltaWindows, histWindows)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val deltaTuples = deltaWindows
      .select(col("asset_id"), col("window_id"), col("ahash")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toIndexedSeq

    def rollup(rows: Array[(Long, Long, Long, Long, Long)]) =
      rows.groupBy(r => (r._1, r._3)).map { case ((aid, mid), g) =>
        (aid, mid, g.map(_._5).min, g.size.toLong)
      }.groupBy(_._1).map { case (_, verdicts) =>
        verdicts.minBy(v => (v._3, v._2)) // closest asset: (min hamming, id)
      }.toSet

    def run(name: String)(
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val input = MemoryStream[(Long, Long, Long)]
      val q = mk(input.toDF().toDF("asset_id", "window_id", "ahash"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(deltaTuples: _*)
        q.processAllAvailable()
        StreamingSpec.this.spark.table(name).collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      } finally q.stop()
    }

    val got = run("media_window_screen")(
      StreamingOps.mediaWindowNearDupScreen(_, histWindows))
    got should not be empty
    // per-pair evidence: qualifying distance, history-side matches only
    got.foreach { case (_, _, mid, _, d) =>
      Set(1L, 7L) should contain(mid); d should be <= 6L
    }
    // the delta-delta dup pair (307, 310) never pairs — history-only probes
    got.map(_._1).toSet should contain allOf (301L, 307L, 310L)
    // the batch asset verdict is a plain rollup over the emitted pairs
    rollup(got) shouldBe batch
    // production shape: a PERSISTED prebuilt index streams identically
    val idx = StreamingOps.mediaWindowNearDupIndex(histWindows).persist()
    try run("media_window_screen_prebuilt")(
      StreamingOps.mediaWindowNearDupScreen(_, histWindows,
        precomputedIndex = Some(idx))).toSet shouldBe got.toSet
    finally idx.unpersist()

    // PRODUCTION stream start: the state ARTIFACT round-trips through
    // parquet and carries its own band layout — FromState takes no
    // layout args and no history
    val stDir = java.nio.file.Files
      .createTempDirectory("graft-media-window-state").toString
    StreamingOps.mediaWindowScreenState(histWindows)
      .write.mode("overwrite").parquet(stDir)
    val state = spark.read.parquet(stDir)
    run("media_window_screen_state")(
      StreamingOps.mediaWindowNearDupScreenFromState(_, state))
      .toSet shouldBe got.toSet
    // a frame that is NOT a state artifact (no meta row) fails loudly
    an[IllegalArgumentException] should be thrownBy
      StreamingOps.mediaWindowNearDupScreenFromState(
        spark.range(1).selectExpr("id as asset_id", "id as window_id",
          "id as ahash"),
        state.where(col("section") =!= "meta"))
    // a maxDist past the artifact layout's pigeonhole bound fails loudly
    val wideDir = java.nio.file.Files
      .createTempDirectory("graft-media-window-state-wide").toString
    StreamingOps.mediaWindowScreenState(histWindows, nBands = 4, bandBits = 14)
      .write.mode("overwrite").parquet(wideDir)
    val wideState = spark.read.parquet(wideDir)
    an[IllegalArgumentException] should be thrownBy
      StreamingOps.mediaWindowNearDupScreenFromState(
        spark.range(1).selectExpr("id as asset_id", "id as window_id",
          "id as ahash"),
        wideState, maxDist = 6)
    // …and the wide artifact streams at its admissible distance, parity
    // with the batch tier at the same layout
    val batchWide = Multimodal.ahashWindowNearDupAgainst(
        deltaWindows, histWindows, maxDist = 3, nBands = 4, bandBits = 14)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    rollup(run("media_window_screen_state_wide")(
      StreamingOps.mediaWindowNearDupScreenFromState(_, wideState,
        maxDist = 3))) shouldBe batchWide
  }

  test("streaming embeddingContaminationScreen equals the batch decontamination") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bench = e.where(col("vec_id") < 3)
    // the stream includes the bench ids themselves — self-id pairs must
    // be excluded exactly like the batch join condition does
    val corpus = e.where(col("vec_id") < 40)
    val batch = Similarity.embeddingContamination(corpus, bench, tau = 0.2)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("max_cos"),
        r.getAs[Boolean]("contaminated"))).toSet
    val rows = corpus.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq

    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.embeddingContaminationScreen(
        input.toDF().toDF("vec_id", "embedding"), bench, tau = 0.2)
      .writeStream.format("memory").queryName("emb_contam_screen")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = StreamingSpec.this.spark.table("emb_contam_screen").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("max_cos"),
          r.getAs[Boolean]("contaminated"))).toSet
      got shouldBe batch // EXACT equality — same round-6 arithmetic
      got should not be empty
      // tau sits inside the observed cosine range: both verdicts occur
      got.count(_._3) should be > 0
      got.count(!_._3) should be > 0
    } finally q.stop()
  }

  test("streaming embeddingIngestScreen: decision log row-identical to the batch ingest") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity

    // the q225 fixture: fresh slice + PLANTED copies of history
    // vectors, so all four stages are populated
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val hist = e.where(col("vec_id") >= 250)
    val bench = e.where(col("vec_id") < 5)
    val delta = e.where(col("vec_id") >= 5 && col("vec_id") < 250)
      .select(col("vec_id"), col("embedding"))
      .unionByName(e.where(col("vec_id") >= 400)
        .select((col("vec_id") - 400 + 1000).as("vec_id"), col("embedding")))
    val batch = graft.Caching.scoped {
      Similarity.embeddingIngest(delta, hist, bench,
          tau = 0.2, tauNearDup = 0.4)
        .collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("stage"),
          Option(r.getAs[java.lang.Long]("anchor")).map(_.longValue))).toSet
    }
    batch.map(_._2) shouldBe Set("dropped_exact", "dropped_near_dup",
      "dropped_contaminated", "kept")
    val rows = delta.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq

    def run(name: String, idx: Option[org.apache.spark.sql.DataFrame],
        ndIdx: Option[org.apache.spark.sql.DataFrame]) = {
      val input = MemoryStream[(Long, Seq[Float])]
      val q = StreamingOps.embeddingIngestScreen(
          input.toDF().toDF("vec_id", "embedding"), hist, bench,
          tau = 0.2, tauNearDup = 0.4,
          precomputedIndex = idx, precomputedNearDupIndex = ndIdx)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(rows: _*)
        q.processAllAvailable()
        StreamingSpec.this.spark.table(name).collect()
          .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("stage"),
            Option(r.getAs[java.lang.Long]("anchor")).map(_.longValue))).toSet
      } finally q.stop()
    }

    run("emb_ingest_screen", None, None) shouldBe batch
    // production shape: persisted prebuilt distinct-vector + near-dup
    // indexes
    val idx = StreamingOps.embeddingIngestIndex(hist).persist()
    val ndIdx = StreamingOps.embeddingNearDupIndex(hist).persist()
    try run("emb_ingest_screen_prebuilt", Some(idx), Some(ndIdx)) shouldBe batch
    finally { idx.unpersist(); ndIdx.unpersist() }

    // THE production stream start: one parquet-roundtripped
    // embeddingIngestState artifact carries both indexes AND the
    // derivation params (bits/tables) — the FromState signature takes
    // no history and no band parameters at all
    val stateDir = java.nio.file.Files
      .createTempDirectory("emb_ingest_state").toString
    StreamingOps.embeddingIngestState(hist)
      .write.mode("overwrite").parquet(stateDir)
    val state = spark.read.parquet(stateDir)
    val input2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingOps.embeddingIngestScreenFromState(
        input2.toDF().toDF("vec_id", "embedding"), state, bench,
        tau = 0.2, tauNearDup = 0.4)
      .writeStream.format("memory").queryName("emb_ingest_from_state")
      .outputMode(OutputMode.Append()).start()
    try {
      input2.addData(rows: _*)
      q2.processAllAvailable()
      StreamingSpec.this.spark.table("emb_ingest_from_state").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("stage"),
          Option(r.getAs[java.lang.Long]("anchor")).map(_.longValue)))
        .toSet shouldBe batch
    } finally q2.stop()

    // a frame that is NOT an embeddingIngestState artifact (no meta
    // row) fails loudly at construction, never silently mis-keys
    val notState = intercept[IllegalArgumentException] {
      StreamingOps.embeddingIngestScreenFromState(
        input2.toDF().toDF("vec_id", "embedding"),
        state.where(col("section") =!= "meta"), bench)
    }
    notState.getMessage should include("exactly one meta row")
  }

  test("streaming annSearchStream: row-identical to the indexed batch probe, incl. post-delete and filtered") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("ann_serve_spec").toString
    Similarity.buildAnnIndex(e, idx, stride = 100, metaCols = Seq("label"))
    val qRows = q.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_vec_id"), r.getAs[Long]("n_vec_id"),
        r.getAs[Double]("cos"), r.getAs[Long]("rank"))).toSet
    def run(name: String, state: org.apache.spark.sql.DataFrame) = {
      val input = MemoryStream[(Long, Seq[Float])]
      val sq = StreamingOps.annSearchStream(
          input.toDF().toDF("vec_id", "embedding"), state, k = 10, nProbe = 2)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(qRows: _*)
        sq.processAllAvailable()
        rowsOf(StreamingSpec.this.spark.table(name))
      } finally sq.stop()
    }
    // the artifact convention: state round-trips through parquet
    def stateAt(filter: Option[org.apache.spark.sql.Column]) = {
      val dir = java.nio.file.Files.createTempDirectory("ann_serve_state").toString
      StreamingOps.annServeState(spark, idx, filter)
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val batch1 = rowsOf(Similarity.searchAnnIndexed(spark, idx, q, k = 10, nProbe = 2))
    val st1 = stateAt(None)
    run("ann_stream_plain", st1) shouldBe batch1
    batch1 should not be empty
    // POST-DELETE parity: the state build folds the tombstone set
    // exactly like the batch probe's anti-join
    Similarity.deleteFromAnnIndex(
      spark, e.where(col("vec_id") % 4 === 2), idx)
    val batch2 = rowsOf(Similarity.searchAnnIndexed(spark, idx, q, k = 10, nProbe = 2))
    batch2 should not be batch1 // the delete moved the answer
    run("ann_stream_deleted", stateAt(None)) shouldBe batch2
    // FILTERED parity: predicate baked into the snapshot = the batch
    // filtered probe over the same layout (tombstones still honored)
    val batch3 = rowsOf(Similarity.searchAnnIndexedFiltered(
      spark, idx, q, col("label") === 1, k = 10, nProbe = 2))
    run("ann_stream_filtered", stateAt(Some(col("label") === 1))) shouldBe batch3
    batch3 should not be empty
    // a frame that is NOT an annServeState artifact fails loudly
    val input = MemoryStream[(Long, Seq[Float])]
    val notState = intercept[IllegalArgumentException] {
      StreamingOps.annSearchStream(input.toDF().toDF("vec_id", "embedding"),
        st1.where(col("section") =!= "meta"), k = 10)
    }
    notState.getMessage should include("exactly one meta row")
  }

  test("refreshAnnServeState: O(delta) patch equals a full rebuild; non-append drift refuses") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("ann_refresh_spec").toString
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx, stride = 100)
    def roundtrip(df: org.apache.spark.sql.DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("ann_refresh_st").toString
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val st0 = roundtrip(StreamingOps.annServeState(spark, idx))
    Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400), idx)
    // the unrefreshed artifact is stale (appends moved the file count)
    intercept[IllegalArgumentException] {
      StreamingOps.requireServeStateCurrent(spark, idx, st0)
    }.getMessage should include("STALE serve state")
    // the patch reads only the appended files and comes out CURRENT
    val refreshed = roundtrip(StreamingOps.refreshAnnServeState(spark, idx, st0))
    StreamingOps.requireServeStateCurrent(spark, idx, refreshed)
    // the appended rows are genuinely in the arrays, not just re-stamped
    refreshed.where(col("section") === "cells")
      .select(org.apache.spark.sql.functions.explode(col("cands")).as("c"))
      .where(col("c.vec_id") >= 400).count() shouldBe
      e.where(col("vec_id") >= 400).count()
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_vec_id"), r.getAs[Long]("n_vec_id"),
        r.getAs[Double]("cos"), r.getAs[Long]("rank"))).toSet
    val qRows = q.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq
    def runServe(name: String, state: org.apache.spark.sql.DataFrame) = {
      val input = MemoryStream[(Long, Seq[Float])]
      val sq = StreamingOps.annSearchStream(
          input.toDF().toDF("vec_id", "embedding"), state, k = 10, nProbe = 2)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(qRows: _*)
        sq.processAllAvailable()
        rowsOf(StreamingSpec.this.spark.table(name))
      } finally sq.stop()
    }
    // serves row-identical to the batch probe over the grown index AND
    // to a from-scratch rebuild of the serve state
    val batch = rowsOf(Similarity.searchAnnIndexed(spark, idx, q, k = 10, nProbe = 2))
    runServe("ann_refresh_serve", refreshed) shouldBe batch
    runServe("ann_refresh_fresh",
      roundtrip(StreamingOps.annServeState(spark, idx))) shouldBe batch
    // a no-op refresh (nothing appended since) is still current and
    // serves identically
    runServe("ann_refresh_noop",
      roundtrip(StreamingOps.refreshAnnServeState(spark, idx, refreshed))) shouldBe batch
    // an artifact from before the files-section convention refuses
    intercept[IllegalArgumentException] {
      StreamingOps.refreshAnnServeState(spark, idx,
        refreshed.where(col("section") =!= "files"))
    }.getMessage should include("files-section")
    // a DELETE after the artifact's build refuses — tombstones fold OUT
    // of the arrays, a concat patch cannot express that
    Similarity.deleteFromAnnIndex(spark, e.where(col("vec_id") === 7), idx)
    intercept[IllegalArgumentException] {
      StreamingOps.refreshAnnServeState(spark, idx, refreshed)
    }.getMessage should include("moved past appends")
    // a FILTERED artifact refreshes — the serialized predicate decodes
    // from the meta row and re-applies to the delta (the four-tier
    // parity is pinned in the "serialized serve filters" case; here:
    // the no-drift refresh passes the freshness guard and keeps the
    // predicate fragment in its meta row)
    val idx2 = java.nio.file.Files.createTempDirectory("ann_refresh_f").toString
    Similarity.buildAnnIndex(e, idx2, stride = 100, metaCols = Seq("label"))
    val stF = StreamingOps.annServeState(spark, idx2, Some(col("label") === 1))
    val refreshedF = StreamingOps.refreshAnnServeState(spark, idx2, stF)
    StreamingOps.requireServeStateCurrent(spark, idx2, refreshedF)
    refreshedF.where(col("section") === "meta")
      .select(col("meta")).head().getString(0) should
      include("filtered=2;filterSql=")
  }

  test("streaming annSearchStreamPq: row-identical to ivfPqTopK, incl. post-delete rebuild") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("ann_pq_serve_spec").toString
    Similarity.buildAnnIndex(e, idx, stride = 100, metaCols = Seq("label"))
    val qRows = q.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_vec_id"), r.getAs[Long]("n_vec_id"),
        r.getAs[Double]("adc"), r.getAs[Long]("rank"))).toSet
    def run(name: String,
        filter: Option[org.apache.spark.sql.Column] = None) = {
      val dir = java.nio.file.Files.createTempDirectory("ann_pq_state").toString
      StreamingOps.annServePqState(spark, idx, filter = filter)
        .write.mode("overwrite").parquet(dir)
      val state = spark.read.parquet(dir)
      val input = MemoryStream[(Long, Seq[Float])]
      val sq = StreamingOps.annSearchStreamPq(
          input.toDF().toDF("vec_id", "embedding"), state, kTop = 10, nProbe = 2)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(qRows: _*)
        sq.processAllAvailable()
        rowsOf(StreamingSpec.this.spark.table(name))
      } finally sq.stop()
    }
    // the compressed-domain serve reproduces the batch IVF-ADC
    // composition bit-for-bit (same probes, same codebook, same LUT
    // arithmetic in the same order)
    val batch = rowsOf(Similarity.ivfPqTopK(e, q, kTop = 10))
    run("ann_pq_stream") shouldBe batch
    batch should not be empty
    // FILTERED parity: metadata predicate baked into the snapshot =
    // the batch filtered IVF-ADC over the same corpus — candidates
    // pruned, centroids AND codebook frozen full-corpus, so the two
    // tiers (32× memory + metadata filter) compose code-for-code
    val batchF = rowsOf(Similarity.ivfPqTopKFiltered(
      e, q, col("label") === 1, kTop = 10))
    run("ann_pq_stream_filtered", Some(col("label") === 1)) shouldBe batchF
    batchF should not be batch // the predicate moved the answer
    batchF should not be empty
    // POST-DELETE rebuild: the dead slice avoids PQ seeds (vec_id ≡ 0
    // mod 25) so the codebook — and with it every surviving code — is
    // unchanged; the rebuilt state equals the batch composition over
    // the live rows with the same quantizers
    val dead = col("vec_id") % 4 === 2 && col("vec_id") % 25 =!= 0
    Similarity.deleteFromAnnIndex(spark, e.where(dead), idx)
    val batch2 = rowsOf(Similarity.ivfPqTopK(e.where(!dead), q, kTop = 10))
    batch2 should not be batch
    run("ann_pq_stream_deleted") shouldBe batch2
    // a frame that is NOT an annServePqState artifact fails loudly
    val input = MemoryStream[(Long, Seq[Float])]
    val dir = java.nio.file.Files.createTempDirectory("ann_pq_state2").toString
    StreamingOps.annServePqState(spark, idx).write.mode("overwrite").parquet(dir)
    val notState = intercept[IllegalArgumentException] {
      StreamingOps.annSearchStreamPq(input.toDF().toDF("vec_id", "embedding"),
        spark.read.parquet(dir).where(col("section") =!= "meta"), kTop = 10)
    }
    notState.getMessage should include("exactly one meta row")
  }

  test("artifact meta validation: mis-paired and malformed artifacts fail loudly by name") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ann_mispair_spec").toString
    Similarity.buildAnnIndex(e, idx, stride = 100)
    val floatState = StreamingOps.annServeState(spark, idx)
    val pqState = StreamingOps.annServePqState(spark, idx)
    val input = MemoryStream[(Long, Seq[Float])]
    val qdf = input.toDF().toDF("vec_id", "embedding")
    // a PQ artifact handed to the float serve: the guard names the
    // pairing instead of dying on an unresolved cands column
    val mp1 = intercept[IllegalArgumentException] {
      StreamingOps.annSearchStream(qdf, pqState, k = 10)
    }
    mp1.getMessage should include("pairs with annSearchStreamPq")
    // a float artifact handed to the PQ serve: same, the other way
    val mp2 = intercept[IllegalArgumentException] {
      StreamingOps.annSearchStreamPq(qdf, floatState, kTop = 10)
    }
    mp2.getMessage should include("no pq_cands")
    // a MANGLED meta row (no k=v shape) fails the shape check with the
    // builder named — not a raw ArrayIndexOutOfBoundsException
    val mangled = floatState.where(col("section") =!= "meta").unionByName(
      floatState.where(col("section") === "meta")
        .withColumn("meta", lit("garbage-no-equals")))
    val mf = intercept[IllegalArgumentException] {
      StreamingOps.annSearchStream(qdf, mangled, k = 10)
    }
    mf.getMessage should include("malformed")
    mf.getMessage should include("annServeState")
    // a meta row missing the artifact's required keys names them — the
    // wrong-builder / old-convention failure mode
    val stripped = floatState.where(col("section") =!= "meta").unionByName(
      floatState.where(col("section") === "meta")
        .withColumn("meta", lit("foo=1")))
    val ms = intercept[IllegalArgumentException] {
      StreamingOps.annSearchStream(qdf, stripped, k = 10)
    }
    ms.getMessage should include("missing filtered")
    // a NON-INTEGER value under an integer key names the key and the
    // builder — not a raw NumberFormatException
    val stateDir = java.nio.file.Files
      .createTempDirectory("ingest_badmeta_spec").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("doc"), col("text").as("line"))
      .where(col("doc") < 50)
    val splits = docs.select(col("doc"), lit("train").as("split"))
    StreamingOps.ingestState(docs, splits).write.mode("overwrite").parquet(stateDir)
    val ingestState = spark.read.parquet(stateDir)
    val badInt = ingestState.where(col("section") =!= "meta").unionByName(
      ingestState.where(col("section") === "meta")
        .withColumn("fp", lit("n=three;numHashes=16;rowsPerBand=4")))
    val docsInput = MemoryStream[(Long, String)]
    val nf = intercept[IllegalArgumentException] {
      StreamingOps.ingestScreenFromState(
        docsInput.toDF().toDF("doc", "line"), badInt)
    }
    nf.getMessage should include("n=three")
    nf.getMessage should include("ingestState")
    // every search entry point crossed with every tier's artifact: a
    // mis-pair names the column the search expected and the search the
    // artifact pairs with; a matched pair builds its plan
    val states = Seq(
      ("cands", "annSearchStream", floatState),
      ("pq_cands", "annSearchStreamPq", pqState),
      ("h_cands", "annSearchStreamHamming",
        StreamingOps.annServeHammingState(spark, idx)),
      ("i_cands", "annSearchStreamInt8", StreamingOps.annServeInt8State(spark, idx)))
    val searches: Seq[(String, org.apache.spark.sql.DataFrame => Any)] = Seq(
      "cands" -> (st => StreamingOps.annSearchStream(qdf, st, k = 10)),
      "pq_cands" -> (st => StreamingOps.annSearchStreamPq(qdf, st, kTop = 10)),
      "h_cands" -> (st => StreamingOps.annSearchStreamHamming(qdf, st, k = 10)),
      "i_cands" -> (st => StreamingOps.annSearchStreamInt8(qdf, st, kTop = 10)))
    val misPaired = for {
      (expected, search) <- searches
      (own, ownSearch, st) <- states
    } yield {
      if (own == expected) { search(st); 0 }
      else {
        val ex = intercept[IllegalArgumentException](search(st))
        withClue(s"$ownSearch artifact into the $expected search: ") {
          ex.getMessage should include(s"no $expected")
          ex.getMessage should include(s"pairs with $ownSearch")
        }
        1
      }
    }
    misPaired.sum shouldBe 12
  }

  test("serve artifact format: each tier's parquet-round-tripped columns, sections and meta keys are pinned") {
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ann_format_spec").toString
    Similarity.buildAnnIndex(e, idx, stride = 100)
    val cents = "cents array<struct<cent_id:bigint,c_emb:array<double>,c_nrm:double>>"
    val common = Set("filtered", "generation", "n_cell_files", "n_tombstones")
    val base = Set("cells", "cents", "files", "meta")
    val pinned = Seq(
      ("float", StreamingOps.annServeState(spark, idx), Seq("section string",
        "cell bigint",
        "cands array<struct<vec_id:bigint,emb:array<double>,nrm:double>>",
        cents, "meta string"), base, common),
      ("pq", StreamingOps.annServePqState(spark, idx), Seq("section string",
        "cell bigint", "pq_cands array<struct<n_vec_id:bigint,codes:array<int>>>",
        cents, "codebook array<array<array<double>>>", "meta string"),
        base + "codebook", common ++ Set("k", "m", "pqStride", "subDim")),
      ("hamming", StreamingOps.annServeHammingState(spark, idx), Seq(
        "section string", "cell bigint",
        "h_cands array<struct<n_vec_id:bigint,sig:bigint>>", cents,
        "meta string"), base, common + "bits"),
      ("int8", StreamingOps.annServeInt8State(spark, idx), Seq("section string",
        "cell bigint", "i_cands array<struct<n_vec_id:bigint,q:array<int>," +
          "minv:double,scale:double,d:bigint,sum:bigint,qq:bigint>>",
        cents, "meta string"), base, common))
    for ((tier, built, columns, sections, keys) <- pinned) withClue(s"$tier: ") {
      val dir = java.nio.file.Files.createTempDirectory("ann_format_st").toString
      built.write.mode("overwrite").parquet(dir)
      val st = spark.read.parquet(dir)
      st.schema.fields.map(f => s"${f.name} ${f.dataType.simpleString}")
        .toSeq shouldBe columns
      st.select("section").distinct().collect().map(_.getString(0))
        .toSet shouldBe sections
      st.where(col("section") === "meta").select("meta").head().getString(0)
        .split(';').map(_.split('=')(0)).toSet shouldBe keys
    }
  }

  test("requireScreenStateHistoryCurrent: screen states pin their history snapshot by content") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ── text tier (ingestState; meta rides in the fp column) ─────────
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("doc"), col("text").as("line"))
    val hist = docs.where(col("doc") < 50)
    val splits = hist.select(col("doc"), lit("train").as("split"))
    val stateDir = java.nio.file.Files
      .createTempDirectory("ingest_fresh_spec").toString
    StreamingOps.ingestState(hist, splits).write.mode("overwrite").parquet(stateDir)
    val state = spark.read.parquet(stateDir)
    // same CONTENT, different order/partitioning: current (the
    // checksum is order-free by construction)
    StreamingOps.requireScreenStateHistoryCurrent(
      state, hist.orderBy(col("doc").desc).repartition(7))
    // grown history: stale, loud
    val grown = intercept[IllegalArgumentException] {
      StreamingOps.requireScreenStateHistoryCurrent(
        state, docs.where(col("doc") < 60))
    }
    grown.getMessage should include("STALE screen state")
    // one changed byte moves it too
    val mutated = hist.withColumn("line",
      when(col("doc") === 1, lit("changed")).otherwise(col("line")))
    intercept[IllegalArgumentException] {
      StreamingOps.requireScreenStateHistoryCurrent(state, mutated)
    }.getMessage should include("STALE screen state")
    // an artifact from BEFORE the checksum convention names the rebuild
    val old = state.where(col("section") =!= "meta").unionByName(
      state.where(col("section") === "meta")
        .withColumn("fp", lit("n=3;numHashes=16;rowsPerBand=4")))
    intercept[IllegalArgumentException] {
      StreamingOps.requireScreenStateHistoryCurrent(old, hist)
    }.getMessage should include("rebuild")
    // ...and the enriched meta row still starts streams (parsers take
    // the keys they need) — construction-time check only
    val docsInput = MemoryStream[(Long, String)]
    StreamingOps.ingestScreenFromState(
      docsInput.toDF().toDF("doc", "line"), state)
    // ── media tiers (meta column) ─────────────────────────────────────
    val hashes = (0L until 40L)
      .map(i => (i, (i * 0x9E3779B97F4A7C15L) & ((1L << 56) - 1)))
      .toDF("asset_id", "ahash")
    val st2 = StreamingOps.mediaScreenState(hashes)
    StreamingOps.requireScreenStateHistoryCurrent(st2, hashes.repartition(5))
    intercept[IllegalArgumentException] {
      StreamingOps.requireScreenStateHistoryCurrent(st2,
        hashes.unionByName(Seq((99L, 42L)).toDF("asset_id", "ahash")))
    }.getMessage should include("STALE screen state")
    val wins = (0L until 40L)
      .map(i => (i / 4, i % 4, (i * 0x9E3779B97F4A7C15L) & ((1L << 56) - 1)))
      .toDF("asset_id", "window_id", "ahash")
    val st3 = StreamingOps.mediaWindowScreenState(wins)
    StreamingOps.requireScreenStateHistoryCurrent(st3, wins.repartition(3))
    intercept[IllegalArgumentException] {
      // same rows, one window re-keyed: the composite key moves it
      StreamingOps.requireScreenStateHistoryCurrent(st3,
        wins.withColumn("window_id",
          when(col("asset_id") === 0 && col("window_id") === 1, lit(9L))
            .otherwise(col("window_id"))))
    }.getMessage should include("STALE screen state")
    // ── embedding tier ───────────────────────────────────────────────
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ehist = e.where(col("vec_id") >= 250).select("vec_id", "embedding")
    val st4 = StreamingOps.embeddingIngestState(ehist)
    StreamingOps.requireScreenStateHistoryCurrent(st4, ehist.repartition(9))
    intercept[IllegalArgumentException] {
      StreamingOps.requireScreenStateHistoryCurrent(st4,
        e.select("vec_id", "embedding"))
    }.getMessage should include("STALE screen state")
  }

  test("extendIngestState: the delta fold is exactly equivalent to a rebuild on the union") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def splitsOf(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc"),
        when(col("doc") % 10 === 0, lit("val")).otherwise(lit("train"))
          .as("split"))
    // canonical view of an artifact: meta string, bloom bytes, fp set,
    // per-bucket sorted candidate lists, dropped-key set — every
    // section, order-free
    def canon(st: org.apache.spark.sql.DataFrame) = {
      val meta = st.where(col("section") === "meta")
        .select(col("fp")).head().getString(0)
      val bloom = st.where(col("section") === "bloom")
        .select(col("bloom")).head().getAs[Array[Byte]](0).toSeq
      val fps = st.where(col("section") === "fp")
        .select(col("fp")).collect().map(_.getString(0)).toSet
      val idx = st.where(col("section") === "index")
        .select(col("band"), col("band_val"),
          org.apache.spark.sql.functions.explode(col("cands")).as("c"))
        .select(col("band"), col("band_val"), col("c.hd"), col("c.hsh"),
          col("c.hsp"))
        .collect()
        .map(r => ((r.getLong(0), r.getString(1)),
          (r.getLong(2), r.getSeq[String](3).toList,
            Option(r.getString(4)))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
      val dropped = st.where(col("section") === "dropped")
        .select(col("band"), col("band_val")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      (meta, bloom, fps, idx, dropped)
    }
    def assertCanonEqual(
        a: (String, Seq[Byte], Set[String],
          Map[(Long, String), Seq[(Long, List[String], Option[String])]],
          Set[(Long, String)]),
        b: (String, Seq[Byte], Set[String],
          Map[(Long, String), Seq[(Long, List[String], Option[String])]],
          Set[(Long, String)])): Unit = {
      withClue("meta:") { a._1 shouldBe b._1 }
      withClue("bloom:") { a._2 shouldBe b._2 }
      withClue("fps:") { a._3 shouldBe b._3 }
      withClue("dropped:") { a._5 shouldBe b._5 }
      withClue("index keys:") { a._4.keySet shouldBe b._4.keySet }
      for (k <- a._4.keySet)
        withClue(s"index bucket $k:") { a._4(k) shouldBe b._4(k) }
    }
    // ── real-corpus equivalence (parquet-roundtripped artifact) ──────
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").as("doc"), col("text").as("line"))
    val h1 = docs.where(col("doc") < 40)
    val h2 = docs.where(col("doc") >= 40 && col("doc") < 60)
    val union = docs.where(col("doc") < 60)
    val dir = java.nio.file.Files.createTempDirectory("ingest_ext_spec").toString
    StreamingOps.ingestState(h1, splitsOf(h1)).write.mode("overwrite").parquet(dir)
    val extended = StreamingOps.extendIngestState(
      spark.read.parquet(dir), h2, splitsOf(h2))
    val fresh = StreamingOps.ingestState(union, splitsOf(union))
    assertCanonEqual(canon(extended), canon(fresh))
    // the freshness guard blesses the extension against the TRUE union
    // and still rejects the superseded snapshot
    StreamingOps.requireScreenStateHistoryCurrent(extended, union)
    intercept[IllegalArgumentException] {
      StreamingOps.requireScreenStateHistoryCurrent(extended, h1)
    }.getMessage should include("STALE screen state")
    // screen-output identity through both artifacts, with arrivals that
    // genuinely hit the DELTA history (exact copies of h2 lines)
    val arrivals = h2.where(col("doc") < 45)
      .select((col("doc") + 9000L).as("doc"), col("line"))
      .unionByName(Seq((9900L, "wholly novel arrival text")).toDF("doc", "line"))
    val arrivalRows = arrivals.collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    def runScreen(name: String, st: org.apache.spark.sql.DataFrame) = {
      val input = MemoryStream[(Long, String)]
      val sq = StreamingOps.ingestScreenFromState(
          input.toDF().toDF("doc", "line"), st)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(arrivalRows: _*)
        sq.processAllAvailable()
        StreamingSpec.this.spark.table(name).collect()
          .map(r => (r.getAs[Long]("doc"), r.getAs[String]("stage"),
            Option(r.getAs[java.lang.Long]("anchor")).map(_.longValue),
            r.getAs[String]("split"))).toSet
      } finally sq.stop()
    }
    val gotExt = runScreen("ingest_ext_screen", extended)
    gotExt shouldBe runScreen("ingest_fresh_screen", fresh)
    // the h2 copies are caught — only through the folded-in delta
    gotExt.count(_._2 == "dropped_exact") shouldBe 5
    // ── hot-bucket law under extension (crafted corpus, bound 2) ─────
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "one two three four five six seven"
    def mk(ids: Seq[Long], text: String) = ids.map(i => (i, text)).toDF("doc", "line")
    // textA hot at BUILD (3 > 2, dropped whole); textB kept (2)
    val ch1 = mk(Seq(1L, 2L, 3L), tA).unionByName(mk(Seq(4L, 5L), tB))
    // delta: textA delta-visible size 1 (a naive extension would
    // resurrect the guarded bucket); textB crosses the bound on MERGE
    val cd = mk(Seq(10L), tA).unionByName(mk(Seq(11L), tB))
    val cUnion = ch1.unionByName(cd)
    // the crafted corpus is DELIBERATELY saturated at bound 2 — the
    // build radar (round 12) fails loudly without the explicit opt-in
    intercept[IllegalArgumentException] {
      StreamingOps.ingestState(ch1, splitsOf(ch1), maxBucketSize = 2)
    }.getMessage should include("SATURATED")
    val cState = StreamingOps.ingestState(ch1, splitsOf(ch1),
      maxBucketSize = 2, allowSaturated = true)
    val cExt = StreamingOps.extendIngestState(cState, cd, splitsOf(cd),
      allowSaturated = true)
    val cFresh = StreamingOps.ingestState(cUnion, splitsOf(cUnion),
      maxBucketSize = 2, allowSaturated = true)
    assertCanonEqual(canon(cExt), canon(cFresh))
    // both texts' buckets are dropped in the extension: textA stayed
    // dropped despite the small delta, textB dropped on the merge
    cExt.where(col("section") === "index").count() shouldBe 0L
    cExt.where(col("section") === "dropped").count() should be >= 8L
    // a SECOND extension whose delta never touches the hot buckets
    // keeps every dropped key (an old-dropped bucket with no delta
    // members has no merged row — its key must survive the fold)
    val cd2 = mk(Seq(20L), "totally unrelated fresh text here")
    val cExt2 = StreamingOps.extendIngestState(cExt, cd2, splitsOf(cd2),
      allowSaturated = true)
    val cFresh2 = StreamingOps.ingestState(
      cUnion.unionByName(cd2), splitsOf(cUnion.unionByName(cd2)),
      maxBucketSize = 2, allowSaturated = true)
    assertCanonEqual(canon(cExt2), canon(cFresh2))
    cExt2.where(col("section") === "dropped").count() should be >= 8L
    // an artifact from before the dropped/maxBucketSize convention
    // refuses to extend, naming the rebuild
    val legacy = cState.where(col("section") =!= "meta").unionByName(
      cState.where(col("section") === "meta")
        .withColumn("fp", lit("n=3;numHashes=16;rowsPerBand=4")))
    intercept[IllegalArgumentException] {
      StreamingOps.extendIngestState(legacy, cd, splitsOf(cd))
    }.getMessage should include("rebuild")
  }

  test("extendMediaScreenState (asset + window tiers): delta fold ≡ union rebuild") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def hashOf(i: Long) = (i * 0x9E3779B97F4A7C15L) & ((1L << 56) - 1)
    def canon(st: org.apache.spark.sql.DataFrame) = {
      val meta = st.where(col("section") === "meta")
        .select(col("meta")).head().getString(0)
      val idx = st.where(col("section") === "index")
        .select(col("band"), col("band_bits"),
          org.apache.spark.sql.functions.explode(col("cands")).as("c"))
        .select(col("band"), col("band_bits"), col("c.hid"), col("c.hh"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val dropped = st.where(col("section") === "dropped")
        .select(col("band"), col("band_bits")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (meta, idx, dropped)
    }
    // ── asset tier: real-ish spread hashes, parquet-roundtripped ─────
    val h1 = (0L until 400L).map(i => (i, hashOf(i))).toDF("asset_id", "ahash")
    val d = (400L until 600L).map(i => (i, hashOf(i))).toDF("asset_id", "ahash")
    val union = (0L until 600L).map(i => (i, hashOf(i))).toDF("asset_id", "ahash")
    val dir = java.nio.file.Files.createTempDirectory("media_ext_spec").toString
    StreamingOps.mediaScreenState(h1).write.mode("overwrite").parquet(dir)
    val ext = StreamingOps.extendMediaScreenState(spark.read.parquet(dir), d)
    val fresh = StreamingOps.mediaScreenState(union)
    canon(ext) shouldBe canon(fresh)
    StreamingOps.requireScreenStateHistoryCurrent(ext, union)
    intercept[IllegalArgumentException] {
      StreamingOps.requireScreenStateHistoryCurrent(ext, h1)
    }.getMessage should include("STALE screen state")
    // arrivals that hit the DELTA history screen identically through
    // the extension and the fresh rebuild
    val arrivals = (450L until 455L).map(i => (i + 9000L, hashOf(i)))
    def runScreen(name: String, st: org.apache.spark.sql.DataFrame) = {
      val input = MemoryStream[(Long, Long)]
      val sq = StreamingOps.mediaNearDupScreenFromState(
          input.toDF().toDF("asset_id", "ahash"), st, maxDist = 3)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(arrivals: _*)
        sq.processAllAvailable()
        StreamingSpec.this.spark.table(name).collect()
          .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("match_id"),
            r.getAs[Long]("hamming"))).toSet
      } finally sq.stop()
    }
    val gotExt = runScreen("media_ext_screen", ext)
    gotExt shouldBe runScreen("media_ext_fresh", fresh)
    gotExt.map(_._2) shouldBe (450L until 455L).toSet // delta matched
    // ── hot-bucket law at bound 2 (the ingest-tier crafted corpus) ───
    val hotH1 = (Seq((1L, 7L), (2L, 7L), (3L, 7L)) ++ Seq((4L, 9L), (5L, 9L)))
      .map { case (i, h) => (i, hashOf(h)) }.toDF("asset_id", "ahash")
    val hotD = Seq((10L, hashOf(7L)), (11L, hashOf(9L))).toDF("asset_id", "ahash")
    val hotU = hotH1.unionByName(hotD)
    val hotSt = StreamingOps.mediaScreenState(hotH1, maxBucketDocs = 2,
      allowSaturated = true)
    // the extension's radar reads the merged visible mass — saturated
    // here by construction, so it needs the same opt-in as the build
    intercept[IllegalArgumentException] {
      StreamingOps.extendMediaScreenState(hotSt, hotD)
    }.getMessage should include("SATURATED")
    val hotExt = StreamingOps.extendMediaScreenState(hotSt, hotD,
      allowSaturated = true)
    val hotFresh = StreamingOps.mediaScreenState(hotU, maxBucketDocs = 2,
      allowSaturated = true)
    canon(hotExt) shouldBe canon(hotFresh)
    hotExt.where(col("section") === "index").count() shouldBe 0L
    // dropped keys survive a delta that never touches the hot buckets
    val hotD2 = Seq((20L, hashOf(12345L))).toDF("asset_id", "ahash")
    val hotExt2 = StreamingOps.extendMediaScreenState(hotExt, hotD2,
      allowSaturated = true)
    canon(hotExt2) shouldBe canon(StreamingOps.mediaScreenState(
      hotU.unionByName(hotD2), maxBucketDocs = 2, allowSaturated = true))
    // ── window tier shares the law ───────────────────────────────────
    def winsOf(r: Range) =
      r.map(i => (i.toLong / 4, i.toLong % 4, hashOf(i.toLong)))
        .toDF("asset_id", "window_id", "ahash")
    def canonW(st: org.apache.spark.sql.DataFrame) = {
      val meta = st.where(col("section") === "meta")
        .select(col("meta")).head().getString(0)
      val idx = st.where(col("section") === "index")
        .select(col("band"), col("band_bits"),
          org.apache.spark.sql.functions.explode(col("cands")).as("c"))
        .select(col("band"), col("band_bits"), col("c.mid"), col("c.mwid"),
          col("c.hh"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      (meta, idx)
    }
    val wExt = StreamingOps.extendMediaWindowScreenState(
      StreamingOps.mediaWindowScreenState(winsOf(0 until 400)),
      winsOf(400 until 600))
    canonW(wExt) shouldBe canonW(
      StreamingOps.mediaWindowScreenState(winsOf(0 until 600)))
    StreamingOps.requireScreenStateHistoryCurrent(wExt, winsOf(0 until 600))
  }

  test("extendEmbeddingIngestState: delta fold ≡ union rebuild, incl. the exact-anchor min law") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def canon(st: org.apache.spark.sql.DataFrame) = {
      val meta = st.where(col("section") === "meta")
        .select(col("meta")).head().getString(0)
      val exact = st.where(col("section") === "index")
        .select(col("hkey"),
          org.apache.spark.sql.functions.explode(col("cands")).as("c"))
        .select(col("hkey"), col("c.hemb"), col("c.hid"))
        .collect()
        .map(r => (r.getLong(0), (r.getSeq[Double](1).toList, r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val nd = st.where(col("section") === "ndindex")
        .select(col("t"), col("bucket"),
          org.apache.spark.sql.functions.explode(col("ndcands")).as("c"))
        .select(col("t"), col("bucket"), col("c.hid"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val ndDropped = st.where(col("section") === "nddropped")
        .select(col("t"), col("bucket")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (meta, exact, nd, ndDropped)
    }
    // history 250..400; delta = 400.. plus a RE-KEYED copy of history
    // vec 300 under the SMALLER id 50 — the merged exact anchor for
    // that vector must drop from 300 to 50 (the min law)
    val h1 = e.where(col("vec_id") >= 250 && col("vec_id") < 400)
    val d = e.where(col("vec_id") >= 400).unionByName(
      e.where(col("vec_id") === 300)
        .select(lit(50L).as("vec_id"), col("embedding")))
    val union = h1.unionByName(d)
    val dir = java.nio.file.Files.createTempDirectory("emb_ext_spec").toString
    StreamingOps.embeddingIngestState(h1).write.mode("overwrite").parquet(dir)
    val ext = StreamingOps.extendEmbeddingIngestState(spark.read.parquet(dir), d)
    val fresh = StreamingOps.embeddingIngestState(union)
    canon(ext) shouldBe canon(fresh)
    // the min law, asserted directly: vec 300's vector anchors at 50
    val anchors = ext.where(col("section") === "index")
      .select(org.apache.spark.sql.functions.explode(col("cands")).as("c"))
      .select(col("c.hid")).collect().map(_.getLong(0)).toSet
    anchors should contain(50L)
    anchors should not contain 300L
    StreamingOps.requireScreenStateHistoryCurrent(ext, union)
    intercept[IllegalArgumentException] {
      StreamingOps.requireScreenStateHistoryCurrent(ext, h1)
    }.getMessage should include("STALE screen state")
    // screen-output identity, arrivals planting every stage
    val bench = e.where(col("vec_id") < 5)
    val arrivals = e.where(col("vec_id") >= 100 && col("vec_id") < 150)
      .select(col("vec_id"), col("embedding"))
      .unionByName(e.where(col("vec_id") >= 420 && col("vec_id") < 425)
        .select((col("vec_id") + 5000L).as("vec_id"), col("embedding")))
    val arrivalRows = arrivals.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq
    def runScreen(name: String, st: org.apache.spark.sql.DataFrame) = {
      val input = MemoryStream[(Long, Seq[Float])]
      val sq = StreamingOps.embeddingIngestScreenFromState(
          input.toDF().toDF("vec_id", "embedding"), st, bench,
          tau = 0.2, tauNearDup = 0.4)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(arrivalRows: _*)
        sq.processAllAvailable()
        StreamingSpec.this.spark.table(name).collect()
          .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("stage"),
            Option(r.getAs[java.lang.Long]("anchor")).map(_.longValue))).toSet
      } finally sq.stop()
    }
    val gotExt = runScreen("emb_ext_screen", ext)
    gotExt shouldBe runScreen("emb_ext_fresh", fresh)
    // the re-keyed delta copies are caught as exact dups — only
    // possible through the folded-in delta history
    gotExt.count { case (id, st2, _) => id >= 5000L && st2 == "dropped_exact" } shouldBe 5
    // hot nd-bucket law at bound 2: three copies of one vector hot at
    // build, a fourth arrives in the delta — stays dropped; a two-copy
    // vector crosses the bound on merge — drops whole
    val vA = Seq(1f, 2f, 3f, 4f)
    val vB = Seq(-4f, 3f, -2f, 1f)
    def mk(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
    val ch1 = mk(Seq((1L, vA), (2L, vA), (3L, vA), (4L, vB), (5L, vB)))
    val cd = mk(Seq((10L, vA), (11L, vB)))
    // the crafted corpus saturates the 64-bucket default space at
    // bound 2 — the round-12 radar fails the build loudly first
    intercept[IllegalArgumentException] {
      StreamingOps.embeddingIngestState(ch1, maxBucketSize = 2)
    }.getMessage should include("SATURATED")
    val cExt = StreamingOps.extendEmbeddingIngestState(
      StreamingOps.embeddingIngestState(ch1, maxBucketSize = 2,
        allowSaturated = true),
      cd, allowSaturated = true)
    val cFresh = StreamingOps.embeddingIngestState(
      ch1.unionByName(cd), maxBucketSize = 2, allowSaturated = true)
    canon(cExt) shouldBe canon(cFresh)
    cExt.where(col("section") === "ndindex").count() shouldBe 0L
    // dropped keys survive a delta that never touches the hot buckets
    val vC = Seq(0.5f, -0.5f, 0.25f, -0.25f)
    val cExt2 = StreamingOps.extendEmbeddingIngestState(
      cExt, mk(Seq((30L, vC))), allowSaturated = true)
    canon(cExt2) shouldBe canon(StreamingOps.embeddingIngestState(
      ch1.unionByName(cd).unionByName(mk(Seq((30L, vC)))),
      maxBucketSize = 2, allowSaturated = true))
    // pre-convention artifacts refuse, naming the rebuild
    val st0 = StreamingOps.embeddingIngestState(ch1)
    val legacy = st0.where(col("section") =!= "meta").unionByName(
      st0.where(col("section") === "meta")
        .withColumn("meta", lit("bits=4;tables=4")))
    intercept[IllegalArgumentException] {
      StreamingOps.extendEmbeddingIngestState(legacy, cd)
    }.getMessage should include("rebuild")
  }

  test("media screen states resolve BandAuto at build and persist the chosen layout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal
    // 600 well-spread 56-bit hashes: at bound 2 the 7×8 layout's
    // 256-value band space saturates (~2.3 expected per bucket), the
    // 4×14 layout's 16,384-value space does not — the exact boundary
    // the round-10 stress measured, shrunk to unit size
    val hashes = (0L until 600L)
      .map(i => (i, (i * 0x9E3779B97F4A7C15L) & ((1L << 56) - 1)))
      .toDF("asset_id", "ahash")
    // explicit default layout on this corpus fails the build loudly
    intercept[IllegalArgumentException] {
      StreamingOps.mediaScreenState(hashes, maxBucketDocs = 2)
    }.getMessage should include("SATURATED")
    // BandAuto walks the ladder and persists the resolved layout in
    // the meta row the FromState start reads
    val st = StreamingOps.mediaScreenState(hashes, maxBucketDocs = 2,
      nBands = Multimodal.BandAuto, maxDist = 3)
    val meta = st.where(col("section") === "meta")
      .select(col("meta")).head().getString(0)
    meta should include("nBands=4;bandBits=14")
    // streams started from the artifact inherit the layout and match
    // exactly what the explicit-layout screen finds
    val arrivals = hashes.where(col("asset_id") < 5)
      .select((col("asset_id") + 1000L).as("asset_id"), col("ahash"))
    val arrivalRows = arrivals.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
    def runScreen(name: String, state: org.apache.spark.sql.DataFrame) = {
      val input = MemoryStream[(Long, Long)]
      val sq = StreamingOps.mediaNearDupScreenFromState(
          input.toDF().toDF("asset_id", "ahash"), state, maxDist = 3)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(arrivalRows: _*)
        sq.processAllAvailable()
        StreamingSpec.this.spark.table(name).collect()
          .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("match_id"),
            r.getAs[Long]("hamming"))).toSet
      } finally sq.stop()
    }
    val got = runScreen("media_auto_screen", st)
    got.map(_._1) shouldBe (1000L until 1005L).toSet // exact copies match
    got shouldBe runScreen("media_explicit_screen",
      StreamingOps.mediaScreenState(hashes, maxBucketDocs = 2,
        nBands = 4, bandBits = 14))
    // a threshold no admissible layout can satisfy unsaturated fails
    // loudly at build instead of packaging a mostly-blind index
    intercept[IllegalArgumentException] {
      StreamingOps.mediaScreenState(hashes, maxBucketDocs = 2,
        nBands = Multimodal.BandAuto, maxDist = 6)
    }.getMessage should include("SATURATED")
    // the window tier shares the dispatch
    val wins = (0L until 600L)
      .map(i => (i / 4, i % 4, (i * 0x9E3779B97F4A7C15L) & ((1L << 56) - 1)))
      .toDF("asset_id", "window_id", "ahash")
    val stw = StreamingOps.mediaWindowScreenState(wins, maxBucketDocs = 2,
      nBands = Multimodal.BandAuto, maxDist = 3)
    stw.where(col("section") === "meta").select(col("meta"))
      .head().getString(0) should include("nBands=4;bandBits=14")
  }

  test("requireServeStateCurrent: stale serve artifacts fail loudly on any drift") {
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ann_fresh_spec").toString
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx, stride = 100)
    def stateNow() = {
      val dir = java.nio.file.Files.createTempDirectory("ann_fresh_state").toString
      StreamingOps.annServeState(spark, idx).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    // fresh artifact: current
    val st0 = stateNow()
    StreamingOps.requireServeStateCurrent(spark, idx, st0)
    // a DELETE after the build: the artifact still serves the deleted
    // rows — drift, loud
    Similarity.deleteFromAnnIndex(spark, e.where(col("vec_id") === 3), idx)
    val drifted = intercept[IllegalArgumentException] {
      StreamingOps.requireServeStateCurrent(spark, idx, st0)
    }
    drifted.getMessage should include("STALE serve state")
    // rebuilt artifact: current again
    val st1 = stateNow()
    StreamingOps.requireServeStateCurrent(spark, idx, st1)
    // an APPEND after the build: the artifact misses the new rows
    Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400), idx)
    intercept[IllegalArgumentException] {
      StreamingOps.requireServeStateCurrent(spark, idx, st1)
    }.getMessage should include("STALE serve state")
    // a COMPACTION after the build: generation moved
    val st2 = stateNow()
    StreamingOps.requireServeStateCurrent(spark, idx, st2)
    Similarity.deleteFromAnnIndex(spark, e.where(col("vec_id") === 5), idx)
    Similarity.compactAnnIndex(spark, idx)
    intercept[IllegalArgumentException] {
      StreamingOps.requireServeStateCurrent(spark, idx, st2)
    }.getMessage should include("STALE serve state")
    // the PQ artifact records the same coordinates
    val pqDir = java.nio.file.Files.createTempDirectory("ann_fresh_pq").toString
    StreamingOps.annServePqState(spark, idx).write.mode("overwrite").parquet(pqDir)
    val pqState = spark.read.parquet(pqDir)
    StreamingOps.requireServeStateCurrent(spark, idx, pqState)
    Similarity.deleteFromAnnIndex(spark, e.where(col("vec_id") === 7), idx)
    intercept[IllegalArgumentException] {
      StreamingOps.requireServeStateCurrent(spark, idx, pqState)
    }.getMessage should include("STALE serve state")
  }

  test("streaming dataCardSketchStream: exact lanes + merge-invariant sketches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate, md5, explode, filter, split}

    val batch1 = Seq(
      "d1" -> "the quick brown fox jumps over the lazy dog",
      "d2" -> "the quick brown fox jumps over the lazy dog", // exact dup
      "d3" -> "entirely different content with fresh words here")
    val batch2 = Seq(
      "d4" -> "the quick brown fox jumps over the lazy dog", // dup again
      "d5" -> "more novel arrivals carrying new vocabulary tokens")

    // batch expectations over a row set: exact lanes from dataCardState,
    // sketch estimates from a ONE-PASS batch HLL over the same rows
    def expect(rows: Seq[(String, String)]) = {
      val df = rows.toDF("doc", "line")
      val st = graft.Caching.scoped {
        graft.operators.Pipeline.dataCardState(df).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      }
      val scalars = Map(
        "n_docs" -> st(("scalar", "n_docs")),
        "n_tokens" -> st(("scalar", "n_tokens")),
        "q_micro" -> st(("scalar", "q_micro")))
      val langs = st.collect { case (("lang", k), v) => k -> v }
      val textEst = df.agg(hll_sketch_estimate(
        hll_sketch_agg(md5(col("line")))).cast("long")).head().getLong(0)
      val termEst = df.select(explode(filter(split(col("line"), "\\s+"),
          t => org.apache.spark.sql.functions.length(t) > 0)).as("t"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("t"))).cast("long"))
        .head().getLong(0)
      (scalars, langs, textEst, termEst)
    }

    def observed(table: String) = {
      val rows = spark.table(table).collect()
      val scalars = Map(
        "n_docs" -> rows.map(_.getAs[Long]("n_docs")).sum,
        "n_tokens" -> rows.map(_.getAs[Long]("n_tokens")).sum,
        "q_micro" -> rows.map(_.getAs[Long]("q_micro")).sum)
      val langs = rows.map(r =>
        r.getAs[String]("lang") -> r.getAs[Long]("n_docs")).toMap
      val card = graft.streaming.StreamingOps
        .renderDataCardSketch(spark.table(table)).head()
      (scalars, langs, card.getAs[Long]("n_unique_texts_est"),
        card.getAs[Long]("vocab_size_est"), card)
    }

    val input = MemoryStream[(String, String)]
    val q = graft.streaming.StreamingOps
      .dataCardSketchStream(input.toDF().toDF("doc", "line"))
      .writeStream.format("memory").queryName("datacard")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      val (s1, l1, t1, v1) = expect(batch1)
      val (os1, ol1, ot1, ov1, _) = observed("datacard")
      os1 shouldBe s1; ol1 shouldBe l1
      // HLL register-merge invariance: stream state ≡ one-pass batch
      ot1 shouldBe t1; ov1 shouldBe v1

      input.addData(batch2: _*)
      q.processAllAvailable()
      val (s2, l2, t2, v2) = expect(batch1 ++ batch2)
      val (os2, ol2, ot2, ov2, card) = observed("datacard")
      os2 shouldBe s2; ol2 shouldBe l2
      ot2 shouldBe t2; ov2 shouldBe v2
      // the rendered live card: exact fields exact, estimates tiny-
      // corpus-exact (HLL is error-free far below its register count)
      card.getAs[Long]("n_docs") shouldBe 5L
      card.getAs[Long]("n_unique_texts_est") shouldBe 3L
      card.getAs[Double]("dup_rate_est") shouldBe 0.4
      val meanQ: Double = math.rint(s2("q_micro").toDouble / 5.0) / 1e6
      card.getAs[Double]("mean_quality") shouldBe meanQ
    } finally q.stop()
  }

  test("streaming coMomentStream: state after any prefix equals the batch state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val batch1 = Seq(0L -> Seq(1f, 2f, 5f), 1L -> Seq(2f, 4f, 5f),
      2L -> Seq(3f, 6f, 5f))
    val batch2 = Seq(3L -> Seq(4f, 8f, 5f), 4L -> Seq(0f, 1f, 7f))
    def batchState(rows: Seq[(Long, Seq[Float])]) =
      rowsOf(graft.operators.Similarity.coMomentState(
        rows.toDF("vec_id", "embedding")))

    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.coMomentStream(input.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("comoment")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      rowsOf(spark.table("comoment")) shouldBe batchState(batch1)
      input.addData(batch2: _*)
      q.processAllAvailable()
      // the kernel buffer in the state store merged the second batch:
      // prefix state ≡ batch state over exactly the rows seen so far
      rowsOf(spark.table("comoment")) shouldBe batchState(batch1 ++ batch2)
      // and the live PC1 renders from the streamed state bit-for-bit
      val live = graft.operators.Similarity
        .principalComponentFromState(spark.table("comoment"), iters = 7)
        .orderBy(col("dim")).collect().map(_.toSeq)
      val whole = graft.operators.Similarity
        .principalComponent((batch1 ++ batch2).toDF("vec_id", "embedding"),
          iters = 7)
        .orderBy(col("dim")).collect().map(_.toSeq)
      live shouldBe whole
    } finally q.stop()
  }

  // ── round-13: the hamming / int8 serve rungs ──────────────────────

  test("streaming annSearchStreamHamming: row-identical to hammingTopK over live rows, incl. post-delete") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("ann_hamm_spec").toString
    Similarity.buildAnnIndex(e, idx, stride = 100)
    // with nProbe covering EVERY cell the probed set is the whole live
    // corpus, so the serve result must equal the FLAT batch scan
    val nCells = spark.read.parquet(s"$idx/centroids").count().toInt
    val qRows = q.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq
    def rowsOfH(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_vec_id"), r.getAs[Long]("n_vec_id"),
        r.getAs[Long]("hamming"), r.getAs[Long]("rank"))).toSet
    def run(name: String) = {
      val dir = java.nio.file.Files.createTempDirectory("ann_hamm_state").toString
      StreamingOps.annServeHammingState(spark, idx, bits = 48)
        .write.mode("overwrite").parquet(dir)
      val state = spark.read.parquet(dir)
      val input = MemoryStream[(Long, Seq[Float])]
      val sq = StreamingOps.annSearchStreamHamming(
          input.toDF().toDF("vec_id", "embedding"), state,
          k = 10, nProbe = nCells)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(qRows: _*)
        sq.processAllAvailable()
        rowsOfH(StreamingSpec.this.spark.table(name))
      } finally sq.stop()
    }
    val batch1 = rowsOfH(Similarity.hammingTopK(e, q, k = 10, bits = 48))
    run("hamm_stream_plain") shouldBe batch1
    batch1 should not be empty
    // post-delete: the state build folds the tombstones like every tier
    Similarity.deleteFromAnnIndex(spark, e.where(col("vec_id") % 4 === 2), idx)
    val batch2 = rowsOfH(Similarity.hammingTopK(
      e.where(col("vec_id") % 4 =!= 2), q, k = 10, bits = 48))
    batch2 should not be batch1
    run("hamm_stream_deleted") shouldBe batch2
    // mis-pair guard: a float artifact names the pairing loudly
    val floatState = StreamingOps.annServeState(spark, idx)
    val input = MemoryStream[(Long, Seq[Float])]
    intercept[IllegalArgumentException] {
      StreamingOps.annSearchStreamHamming(
        input.toDF().toDF("vec_id", "embedding"), floatState, k = 10)
    }.getMessage should include("no h_cands")
  }

  test("streaming annSearchStreamInt8: row-identical to int8SdcTopK over live rows, incl. post-delete") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("ann_int8_spec").toString
    Similarity.buildAnnIndex(e, idx, stride = 100)
    val nCells = spark.read.parquet(s"$idx/centroids").count().toInt
    val qRows = q.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq
    def rowsOfI(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_vec_id"), r.getAs[Long]("n_vec_id"),
        Option(r.getAs[java.lang.Double]("cos_sdc")).map(_.toDouble),
        r.getAs[Long]("rank"))).toSet
    def run(name: String) = {
      val dir = java.nio.file.Files.createTempDirectory("ann_int8_state").toString
      StreamingOps.annServeInt8State(spark, idx)
        .write.mode("overwrite").parquet(dir)
      val state = spark.read.parquet(dir)
      val input = MemoryStream[(Long, Seq[Float])]
      val sq = StreamingOps.annSearchStreamInt8(
          input.toDF().toDF("vec_id", "embedding"), state,
          kTop = 10, nProbe = nCells)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(qRows: _*)
        sq.processAllAvailable()
        rowsOfI(StreamingSpec.this.spark.table(name))
      } finally sq.stop()
    }
    val batch1 = rowsOfI(Similarity.int8SdcTopK(e, q, kTop = 10))
    run("int8_stream_plain") shouldBe batch1
    batch1 should not be empty
    Similarity.deleteFromAnnIndex(spark, e.where(col("vec_id") % 4 === 2), idx)
    val batch2 = rowsOfI(Similarity.int8SdcTopK(
      e.where(col("vec_id") % 4 =!= 2), q, kTop = 10))
    batch2 should not be batch1
    run("int8_stream_deleted") shouldBe batch2
    // mis-pair guard both ways: hamming artifact into the int8 serve
    val hammState = StreamingOps.annServeHammingState(spark, idx)
    val input = MemoryStream[(Long, Seq[Float])]
    intercept[IllegalArgumentException] {
      StreamingOps.annSearchStreamInt8(
        input.toDF().toDF("vec_id", "embedding"), hammState, kTop = 10)
    }.getMessage should include("no i_cands")
  }

  test("refreshAnnServeState: PQ / hamming / int8 patches equal full rebuilds; PQ seed clash refuses") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ann_refresh_tiers").toString
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx, stride = 100)
    def roundtrip(df: org.apache.spark.sql.DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("ann_rt_st").toString
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val pq0 = roundtrip(StreamingOps.annServePqState(spark, idx))
    val hm0 = roundtrip(StreamingOps.annServeHammingState(spark, idx))
    val i80 = roundtrip(StreamingOps.annServeInt8State(spark, idx))
    Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400), idx)
    // canonical content of a serve artifact: per-cell candidate sets
    // (rows as plain Seqs — Array equality is referential), meta, files
    def canon(st: org.apache.spark.sql.DataFrame, candsCol: String) = {
      val cells = st.where(col("section") === "cells")
        .select(col("cell"),
          org.apache.spark.sql.functions.explode(col(candsCol)).as("c"))
        .select(col("cell"),
          org.apache.spark.sql.functions.to_json(col("c")).as("j"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
      val meta = st.where(col("section") === "meta")
        .select(col("meta")).head().getString(0)
      val files = st.where(col("section") === "files")
        .select(col("meta")).collect().map(_.getString(0)).toSet
      (cells, meta, files)
    }
    for ((st0, candsCol, fresh) <- Seq(
        (pq0, "pq_cands",
          () => StreamingOps.annServePqState(spark, idx)),
        (hm0, "h_cands",
          () => StreamingOps.annServeHammingState(spark, idx, bits = 48)),
        (i80, "i_cands",
          () => StreamingOps.annServeInt8State(spark, idx)))) {
      val refreshed = roundtrip(StreamingOps.refreshAnnServeState(spark, idx, st0))
      StreamingOps.requireServeStateCurrent(spark, idx, refreshed)
      canon(refreshed, candsCol) shouldBe canon(roundtrip(fresh()), candsCol)
    }
    // PQ seed-position clash: a delta row at vec_id ≡ 0 (mod pqStride)
    // under the seed ceiling would change a rebuild's codebook — the
    // frozen-codebook patch refuses by name
    val pq1 = roundtrip(StreamingOps.annServePqState(spark, idx))
    Similarity.appendAnnIndex(spark,
      Seq((25L, Seq.fill(64)(0.5f))).toDF("vec_id", "embedding"), idx)
    intercept[IllegalArgumentException] {
      StreamingOps.refreshAnnServeState(spark, idx, pq1)
    }.getMessage should include("seed position")
  }

  test("maintainAnnIndexServing: the artifact comes out CURRENT in all three drift classes") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    // class NONE: coordinates unchanged — artifact passes through
    val idx1 = java.nio.file.Files.createTempDirectory("maint_serve1").toString
    Similarity.buildAnnIndex(e, idx1, stride = 100)
    val st1 = StreamingOps.annServeState(spark, idx1)
    val (rep1, art1) = StreamingOps.maintainAnnIndexServing(spark, idx1, st1)
    rep1.select("serve_action").head().getString(0) shouldBe "none"
    StreamingOps.requireServeStateCurrent(spark, idx1, art1)

    // class REFRESHED: append-only drift — the O(delta) patch repairs
    val idx2 = java.nio.file.Files.createTempDirectory("maint_serve2").toString
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx2, stride = 100)
    val st2 = StreamingOps.annServeState(spark, idx2)
    Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400), idx2)
    val (rep2, art2) = StreamingOps.maintainAnnIndexServing(spark, idx2, st2)
    rep2.select("serve_action").head().getString(0) shouldBe "refreshed"
    StreamingOps.requireServeStateCurrent(spark, idx2, art2)

    // class REBUILT: this very maintain call compacts (debt over the
    // bound), so only a from-scratch build can repair — parameters
    // resolve from the artifact (PQ tier to exercise the meta path)
    val idx3 = java.nio.file.Files.createTempDirectory("maint_serve3").toString
    Similarity.buildAnnIndex(e, idx3, stride = 100)
    val st3 = StreamingOps.annServePqState(spark, idx3)
    Similarity.deleteFromAnnIndex(spark,
      e.where(col("vec_id") % 4 === 2 && col("vec_id") % 25 =!= 0), idx3)
    val (rep3, art3) = StreamingOps.maintainAnnIndexServing(
      spark, idx3, st3, maxDebtFrac = 0.2)
    rep3.select("compacted").head().getBoolean(0) shouldBe true
    rep3.select("serve_action").head().getString(0) shouldBe "rebuilt"
    StreamingOps.requireServeStateCurrent(spark, idx3, art3)
    art3.columns should contain("pq_cands") // rebuilt in ITS OWN tier

    // a FILTERED artifact repairs automatically — the serialized
    // predicate decodes from the meta row and rides the refresh
    val idx4 = java.nio.file.Files.createTempDirectory("maint_serve4").toString
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx4,
      stride = 100, metaCols = Seq("label"))
    val stF = StreamingOps.annServeState(spark, idx4, Some(col("label") === 1))
    Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400), idx4)
    val (rep4, art4) = StreamingOps.maintainAnnIndexServing(spark, idx4, stF)
    rep4.select("serve_action").head().getString(0) shouldBe "refreshed"
    StreamingOps.requireServeStateCurrent(spark, idx4, art4)

    // … but a LEGACY opaque-filter artifact (filtered=1, pre-
    // serialization convention) still refuses with the rebuild hint
    val legacy = art4.withColumn("meta",
      regexp_replace(col("meta"), "filtered=2;filterSql=[^;]*;", "filtered=1;"))
    intercept[IllegalArgumentException] {
      StreamingOps.maintainAnnIndexServing(spark, idx4, legacy)
    }.getMessage should include("OPAQUE")
  }

  test("serveStateStats: tier/population/skew/coordinates read from the artifact alone, across the lifecycle") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ann_sstats").toString
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx,
      stride = 100, metaCols = Seq("label"))
    def statsOf(st: org.apache.spark.sql.DataFrame) =
      StreamingOps.serveStateStats(st).head()
    // unfiltered float: every base row is a member
    val r0 = statsOf(StreamingOps.annServeState(spark, idx))
    r0.getAs[String]("tier") shouldBe "float"
    r0.getAs[Boolean]("filtered") shouldBe false
    r0.getAs[Long]("n_members") shouldBe 400L
    r0.getAs[Long]("generation") shouldBe 0L
    // filtered: the predicate population, not the corpus
    val nLbl = e.where(col("vec_id") < 400 && col("label") === 1).count()
    val stF = StreamingOps.annServeState(spark, idx, Some(col("label") === 1))
    statsOf(stF).getAs[Long]("n_members") shouldBe nLbl
    statsOf(stF).getAs[Boolean]("filtered") shouldBe true
    // after an append + refresh the members grow by the FILTERED delta
    Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400), idx)
    val nLblDelta = e.where(col("vec_id") >= 400 && col("label") === 1).count()
    val rF = statsOf(StreamingOps.refreshAnnServeState(spark, idx, stF))
    rF.getAs[Long]("n_members") shouldBe nLbl + nLblDelta
    // the other tiers report their own names from the frame alone
    statsOf(StreamingOps.annServeHammingState(spark, idx))
      .getAs[String]("tier") shouldBe "hamming"
    statsOf(StreamingOps.annServeInt8State(spark, idx))
      .getAs[String]("tier") shouldBe "int8"
    statsOf(StreamingOps.annServePqState(spark, idx))
      .getAs[String]("tier") shouldBe "pq"
    // not a serve artifact → the serveTierOf guard names the builders
    intercept[IllegalArgumentException] {
      StreamingOps.serveStateStats(e)
    }.getMessage should include("not a serve artifact")
  }

  test("extend/refresh merges never shuffle the artifact side: no sort-merge or shuffled-hash join in the plan") {
    // Spark silently DROPS a broadcast hint on a full-outer join, so
    // the old `big ⟗ broadcast(delta)` folds degraded to a shuffle of
    // the whole artifact — the exact O(history) cost the O(delta)
    // operators claim to avoid. broadcastFullOuterMerge replaces the
    // shape; this pins its plan so a refactor cannot quietly regress.
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ann_plan_merge").toString
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx, stride = 100)
    def roundtrip(df: org.apache.spark.sql.DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("ann_plan_rt").toString
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val st = roundtrip(StreamingOps.annServeState(spark, idx))
    Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400), idx)
    val plan = StreamingOps.refreshAnnServeState(spark, idx, st)
      .queryExecution.executedPlan.toString
    withClue(plan.linesIterator.filter(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
        .mkString("\n")) {
      plan should not include "SortMergeJoin"
      plan should not include "ShuffledHashJoin"
    }
  }

  test("serialized serve filters: filtered artifacts refresh on all four tiers; build guards stay loud") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ann_ffilter").toString
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx,
      stride = 100, metaCols = Seq("label"))
    val pred = col("label") === 1
    def roundtrip(df: org.apache.spark.sql.DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("ann_ff_rt").toString
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val fl0 = roundtrip(StreamingOps.annServeState(spark, idx, Some(pred)))
    val pq0 = roundtrip(StreamingOps.annServePqState(spark, idx,
      filter = Some(pred)))
    val hm0 = roundtrip(StreamingOps.annServeHammingState(spark, idx,
      bits = 48, filter = Some(pred)))
    val i80 = roundtrip(StreamingOps.annServeInt8State(spark, idx,
      filter = Some(pred)))
    // the delta (vec_id ≥ 400) sits past the PQ seed ceiling
    // (PqK · PqStride = 400), so the frozen-codebook patch and a
    // from-scratch rebuild derive the SAME codebook — parity is exact
    Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400), idx)
    def canon(st: org.apache.spark.sql.DataFrame, candsCol: String) = {
      val cells = st.where(col("section") === "cells")
        .select(col("cell"),
          org.apache.spark.sql.functions.explode(col(candsCol)).as("c"))
        .select(col("cell"),
          org.apache.spark.sql.functions.to_json(col("c")).as("j"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
      val meta = st.where(col("section") === "meta")
        .select(col("meta")).head().getString(0)
      val files = st.where(col("section") === "files")
        .select(col("meta")).collect().map(_.getString(0)).toSet
      (cells, meta, files)
    }
    for ((st0, candsCol, fresh) <- Seq(
        (fl0, "cands",
          () => StreamingOps.annServeState(spark, idx, Some(pred))),
        (pq0, "pq_cands",
          () => StreamingOps.annServePqState(spark, idx, filter = Some(pred))),
        (hm0, "h_cands",
          () => StreamingOps.annServeHammingState(spark, idx, bits = 48,
            filter = Some(pred))),
        (i80, "i_cands",
          () => StreamingOps.annServeInt8State(spark, idx,
            filter = Some(pred))))) {
      val refreshed =
        roundtrip(StreamingOps.refreshAnnServeState(spark, idx, st0))
      StreamingOps.requireServeStateCurrent(spark, idx, refreshed)
      canon(refreshed, candsCol) shouldBe canon(roundtrip(fresh()), candsCol)
    }
    // end-to-end: the float screen over the REFRESHED filtered artifact
    // is row-identical to the batch filtered probe over the GROWN index
    val q = e.where(col("vec_id") < 5)
    val qRows = q.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_vec_id"), r.getAs[Long]("n_vec_id"),
        r.getAs[Double]("cos"), r.getAs[Long]("rank"))).toSet
    val refreshedFl = StreamingOps.refreshAnnServeState(spark, idx, fl0)
    val input = MemoryStream[(Long, Seq[Float])]
    val sq = StreamingOps.annSearchStream(
        input.toDF().toDF("vec_id", "embedding"), refreshedFl,
        k = 10, nProbe = 2)
      .writeStream.format("memory").queryName("ann_ffilter_stream")
      .outputMode(OutputMode.Append()).start()
    val got = try {
      input.addData(qRows: _*)
      sq.processAllAvailable()
      rowsOf(spark.table("ann_ffilter_stream"))
    } finally sq.stop()
    val batch = rowsOf(Similarity.searchAnnIndexedFiltered(
      spark, idx, q, pred, k = 10, nProbe = 2))
    got shouldBe batch
    batch should not be empty
    // legacy opaque artifact (filtered=1): refresh refuses by name
    val legacy = fl0.withColumn("meta",
      regexp_replace(col("meta"), "filtered=2;filterSql=[^;]*;", "filtered=1;"))
    intercept[IllegalArgumentException] {
      StreamingOps.refreshAnnServeState(spark, idx, legacy)
    }.getMessage should include("OPAQUE")
    // a NON-DETERMINISTIC predicate can never be re-applied
    // consistently — refused at build, before anything is baked
    intercept[IllegalArgumentException] {
      StreamingOps.annServeState(spark, idx, Some(rand() > 0.5))
    }.getMessage should include("deterministic")
    // a predicate whose SQL rendering cannot re-analyze against the
    // stored columns (an unregistered Scala closure) refuses at build
    val closurePred = udf((l: Int) => l == 1)
    intercept[IllegalArgumentException] {
      StreamingOps.annServeState(spark, idx, Some(closurePred(col("label"))))
    }.getMessage should (include("does not re-analyze") or
      include("no SQL rendering") or include("does not round-trip"))
  }

  test("annIndexIngestSink: replayed batches land each vector exactly once; probes see arrivals") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ann_ingest_sink").toString
    Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx, stride = 100)
    val delta = e.where(col("vec_id") >= 400 && col("vec_id") < 450)
      .select(col("vec_id"), col("embedding"))
    def indexRows() = spark.read
      .parquet(graft.operators.Similarity.resolvedIndex(spark, idx)._1)
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // first application lands the rows
    Similarity.appendAnnIndexIdempotent(spark, delta, idx, "b7")
    val once = indexRows()
    once.map(_._1).toSet should contain(400L)
    // clean replay (marker short-circuit): nothing changes
    Similarity.appendAnnIndexIdempotent(spark, delta, idx, "b7")
    indexRows() shouldBe once
    // crashed replay (marker gone, files landed): the batch-key sweep
    // removes the prior landing before re-appending — still exactly once
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_ingest_applied/b7"), false)
    Similarity.appendAnnIndexIdempotent(spark, delta, idx, "b7")
    indexRows() shouldBe once
    // the streaming composition: kept arrivals land via foreachBatch
    // and probes see them after the batch commits
    val input = MemoryStream[(Long, Seq[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("ann_sink_ckpt").toString
    val sq = StreamingOps.annIndexIngestSink(
      input.toDF().toDF("vec_id", "embedding"), idx, ckpt)
    try {
      val arrivals = e.where(col("vec_id") >= 450)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toIndexedSeq
      input.addData(arrivals: _*)
      sq.processAllAvailable()
      val grown = indexRows()
      grown.map(_._1).toSet should contain allElementsOf arrivals.map(_._1)
      // and the grown index equals a plain-append twin, row for row
      val idx2 = java.nio.file.Files.createTempDirectory("ann_ingest_twin").toString
      Similarity.buildAnnIndex(e.where(col("vec_id") < 400), idx2, stride = 100)
      Similarity.appendAnnIndex(spark, e.where(col("vec_id") >= 400)
        .select(col("vec_id"), col("embedding")), idx2)
      val twin = spark.read
        .parquet(graft.operators.Similarity.resolvedIndex(spark, idx2)._1)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      grown shouldBe twin
    } finally sq.stop()
  }
}
