package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{functions => F}

import graft.operators.Search
import graft.sources.Corpus

/** O1 text-directory source: doc identity = file basename
  * (DocWordCount.java:54), and the O12 tab-text parity sink. */
class CorpusSpec extends SparkSpec {

  private def minicorpusDir: String =
    getClass.getResource("/minicorpus").getPath

  test("textDir attaches file basename as doc id") {
    val df = Corpus.textDir(spark, minicorpusDir)
    val got = rowsOf(df)
    got shouldBe Seq(
      Seq("d1.txt", "Hello world hello"),
      Seq("d2.txt", "world of spark")
    ).sortBy(_.mkString(" "))
  }

  test("documentsParquet normalizes to (doc, line)") {
    val df = Corpus.documentsParquet(spark, "/root/testdata/sf0.001/documents.parquet")
    df.columns.toSeq shouldBe Seq("doc", "line")
    df.count() shouldBe 500L
  }

  test("multi-line files: one row per line, same doc id, counts aggregate") {
    // reference semantics: the mapper tokenizes each LINE separately but
    // keys by file basename (DocWordCount.java:54), so counts for a term
    // spanning lines of one file aggregate
    val dir = Files.createTempDirectory("graft-multiline")
    Files.writeString(dir.resolve("m.txt"), "alpha beta\nbeta gamma\n")
    val df = Corpus.textDir(spark, dir.toString)
    df.count() shouldBe 2L // one row per line
    val counts = graft.operators.TfIdf
      .docWordCount(graft.operators.TfIdf.tokenize(df))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    counts("beta") shouldBe 2L // aggregated across both lines
    counts("alpha") shouldBe 1L
    counts("gamma") shouldBe 1L
  }

  test("documentsJsonl reads one object per line with explicit schema") {
    val dir = Files.createTempDirectory("graft-jsonl")
    Files.writeString(dir.resolve("docs.jsonl"),
      """{"doc_id":"j1","text":"hello world"}
        |{"doc_id":"j2","text":"spark stream"}
        |""".stripMargin)
    val df = Corpus.documentsJsonl(spark, dir.toString)
    df.columns.toSeq shouldBe Seq("doc", "line")
    rowsOf(df) shouldBe Seq(
      Seq("j1", "hello world"), Seq("j2", "spark stream"))
  }

  test("documentsCsv reads header-ed csv with explicit schema") {
    val dir = Files.createTempDirectory("graft-csv")
    Files.writeString(dir.resolve("docs.csv"),
      "doc_id,text\nc1,hello world\nc2,spark stream\n")
    val df = Corpus.documentsCsv(spark, dir.toString)
    rowsOf(df) shouldBe Seq(
      Seq("c1", "hello world"), Seq("c2", "spark stream"))
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    val s = spark
    import s.implicits._
    val left = (1L to 100L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "rv")
    Corpus.writeBucketedTable(left, "graft_bkt_l", Seq("k"), numBuckets = 4)
    Corpus.writeBucketedTable(right, "graft_bkt_r", Seq("k"), numBuckets = 4)
    // force the shuffle-join path (tiny test tables would auto-broadcast,
    // which bypasses bucketed reading entirely) to show bucketing removes
    // the exchanges a sort-merge join would otherwise need
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bkt_l").join(spark.table("graft_bkt_r"), "k")
      joined.count() shouldBe 100L
      val plan = joined.queryExecution.executedPlan.toString
      withClue(plan) { plan should not include "Exchange" }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("writeTabText emits key<TAB>value lines") {
    val out = Files.createTempDirectory("graft-sink").toString + "/out"
    Corpus.writeTabText(corpus("d1" -> "x"), "doc", "line", out)
    val back = spark.read.text(out).collect().map(_.getString(0)).toSeq
    back shouldBe Seq("d1\tx")
  }

  test("ORC sink/source round-trips documents") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-orc").toString + "/docs"
    Corpus.writeOrc(
      Seq((1L, "hello world"), (2L, "spark stream")).toDF("doc_id", "text"), out)
    rowsOf(Corpus.documentsOrc(spark, out)) shouldBe
      Seq(Seq("1", "hello world"), Seq("2", "spark stream"))
  }

  test("partitioned parquet prunes unselected partitions at planning time") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-part").toString + "/docs"
    val df = Seq(
      (1L, "the cat", "en"), (2L, "der hund", "de"), (3L, "a dog", "en"))
      .toDF("doc_id", "text", "lang")
    Corpus.writePartitionedParquet(df, Seq("lang"), out)
    // one directory per lang value on disk
    new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("lang="))
      .toSet shouldBe Set("lang=en", "lang=de")
    val read = spark.read.parquet(out).where(F.col("lang") === "en")
    read.count() shouldBe 2L
    val plan = read.queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include regex "PartitionFilters.*lang.*en"
      // the pruned scan reads one of the two partitions
      plan should not include "lang=de"
    }
  }

  /** Spark jobs launched while `body` runs, counted on a drained bus. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { body; TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("indexed search: the first plan build infers once, a rebuild launches no job") {
    val idx = Files.createTempDirectory("graft-memo-idx").toString + "/index"
    Search.buildIndex(
      corpus("d1" -> "spark stream window", "d2" -> "stream of words"), idx,
      fileCount = 2)
    val first = jobsDuring(Search.searchIndexed(spark, idx, "spark stream"))
    first should be <= 1
    jobsDuring(Search.searchIndexed(spark, idx, "spark stream")) shouldBe 0
    rowsOf(Search.searchIndexed(spark, idx, "stream")).map(_.head) shouldBe
      Seq("d1", "d2")
  }

  test("parquet reader: an overwrite or an added file is seen on the next read") {
    val s = spark
    import s.implicits._
    val p = Files.createTempDirectory("graft-memo-rw").toString + "/t"
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(p)
    rowsOf(Corpus.parquet(spark, p)) shouldBe Seq(Seq("1", "a"), Seq("2", "b"))
    Seq((3L, 0.5, true)).toDF("k", "w", "f").write.mode("overwrite").parquet(p)
    val over = Corpus.parquet(spark, p)
    over.schema.map(f => f.name -> f.dataType.typeName) shouldBe
      Seq("k" -> "long", "w" -> "double", "f" -> "boolean")
    rowsOf(over) shouldBe Seq(Seq("3", "0.5", "true"))
    Seq((4L, 1.5, false)).toDF("k", "w", "f").write.mode("append").parquet(p)
    rowsOf(Corpus.parquet(spark, p)) shouldBe
      Seq(Seq("3", "0.5", "true"), Seq("4", "1.5", "false"))
  }

  test("parquet reader: a change to the session's parquet conf re-infers") {
    import scala.jdk.CollectionConverters._
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-memo-conf")
    val t = Files.createDirectory(root.resolve("t"))
    // two files with different columns: plain inference reads the first
    // footer by path (a.parquet), schema merging reads both
    Seq("a" -> Seq(1L).toDF("k"), "b" -> Seq((2L, 0.5)).toDF("k", "x")).foreach {
      case (name, df) =>
        val out = root.resolve(name)
        df.coalesce(1).write.parquet(out.toString)
        val part = Files.list(out).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-")).get
        Files.move(part, t.resolve(s"$name.parquet"))
    }
    Corpus.parquet(spark, t.toString).columns.toSeq shouldBe Seq("k")
    val key = "spark.sql.parquet.mergeSchema"
    try {
      spark.conf.set(key, "true")
      Corpus.parquet(spark, t.toString).columns.toSeq shouldBe Seq("k", "x")
    } finally spark.conf.unset(key)
    Corpus.parquet(spark, t.toString).columns.toSeq shouldBe Seq("k")
  }

  test("parquet reader: two reads of one path are distinct relations") {
    val s = spark
    import s.implicits._
    val p = Files.createTempDirectory("graft-memo-self").toString + "/t"
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").write.parquet(p)
    val a = Corpus.parquet(spark, p)
    val b = Corpus.parquet(spark, p)
    rowsOf(a.join(b, a("k") === b("k")).select(a("k"), b("v"))) shouldBe
      Seq(Seq("1", "x"), Seq("2", "y"))
  }

  test("parquet reader: a failed inference is not stored") {
    val dir = Files.createTempDirectory("graft-memo-bad")
    Files.writeString(dir.resolve("part-0.parquet"), "not a parquet file")
    intercept[Exception](Corpus.parquet(spark, dir.toString))
    intercept[Exception](Corpus.parquet(spark, dir.toString))
  }

  test("parquet reader keeps partition columns and partition pruning") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-memo-part").toString + "/docs"
    Corpus.writePartitionedParquet(
      Seq((1L, "the cat", "en"), (2L, "der hund", "de")).toDF("doc_id", "text", "lang"),
      Seq("lang"), out)
    Corpus.parquet(spark, out).schema shouldBe spark.read.parquet(out).schema
    val read = Corpus.parquet(spark, out).where(F.col("lang") === "en")
    rowsOf(read) shouldBe Seq(Seq("1", "the cat", "en"))
    read.queryExecution.executedPlan.toString should include regex
      "PartitionFilters.*lang.*en"
  }
}
