package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Caching, SparkEntry}
import graft.operators.{Rank, Search, Similarity, TfIdf}
import graft.streaming.StreamingOps

/**
 * The benchmark's JVM half: runs one workload on `local[cores]` with one
 * closed-loop client and writes everything it measured to
 * `<out>/result.json`. `run.py` generates the inputs, starts this, runs
 * the DuckDB oracle on the batch check outputs and prints the metrics.
 *
 * Protocol: one timed set-up (session start, state build, warm-up), then
 * the measured loop, which issues the workload's ops in a fixed cycle
 * until `seconds` have passed and the cycle has run at least twice. The
 * answer check is never inside the measured loop: batch workloads write
 * their set-up warm-up outputs for the oracle, `serve_mixed` checks
 * after the loop.
 *
 * Args: --workload W --data DIR --work DIR --out DIR --seconds S
 *       --trace 0|1 --cores N
 */
object Main {

  val TfidfOps = Seq("q2_doc_word_count", "q3_term_frequency", "q5_tfidf",
    "q6_search", "q7_rank", "q7b_tfidf_rank")
  val NeardupOps = Seq("q13_minhash_lsh", "q14b_simhash_pairs",
    "q28b_minhash_dedup_cc", "q96_minhash_dedup_converged",
    "q147b_weighted_estimate_quality", "q153b_hashed_cosine",
    "q158b_containment_screened")

  final case class Args(workload: String, data: String, work: String,
      out: String, seconds: Double, trace: Boolean, cores: Int)

  /** One measured op: its class (query or request kind) and latency;
    * NaN latency marks an op that threw. */
  final case class Sample(cls: String, ms: Double)

  final class Outcome {
    var setupS = 0.0
    val samples = mutable.ArrayBuffer.empty[Sample]
    val mismatches = mutable.ArrayBuffer.empty[(String, String)]
    var checked = 0
    var windowS = 0.0
    var resultRows = 0L
    val extra = mutable.LinkedHashMap.empty[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val a = Args(o("workload"), o("data"), o("work"), o("out"),
      o("seconds").toDouble, o("trace") == "1", o("cores").toInt)
    val rec = new Recorder(a.trace)
    val res = new Outcome
    val spark = a.workload match {
      case "tfidf_corpus" => new Batch(a, rec, res, TfidfOps).run()
      case "neardup_batch" => new Batch(a, rec, res, NeardupOps).run()
      case "serve_mixed" => new Serve(a, rec, res).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = Map(
      "setup_s" -> res.setupS,
      "samples" -> res.samples.map(s => Map("cls" -> s.cls, "ms" -> s.ms)).toList,
      "mismatches" -> res.mismatches.map { case (op, why) =>
        Map("op" -> op, "reason" -> why) }.toList,
      "checked" -> res.checked,
      "window_s" -> res.windowS,
      "result_rows" -> res.resultRows,
      "cores" -> a.cores,
      "rss_peak_kb" -> vmHwmKb(),
      "extra" -> res.extra.toMap,
      "trace" -> rec.dump())
    Files.write(Paths.get(a.out, "result.json"),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats).getBytes("UTF-8"))
    spark.stop()
  }

  def session(a: Args, rec: Recorder): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    rec.attach(s)
    s
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.take(1).mkString.take(300)

  /** The measured window: one client issues `cycle`'s ops in order, each
    * after the previous one returned, until `seconds` have passed and
    * the whole cycle has run twice, so every op's median has two or more
    * samples. */
  def closedLoop(a: Args, rec: Recorder, res: Outcome, cycle: Seq[String])(
      issue: (String, Int, String) => Unit): Unit = {
    rec.openWindow()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < a.seconds || i < 2 * cycle.size) {
      val cls = cycle(i % cycle.size)
      val op = s"m$i"
      try res.samples += Sample(cls, timed(rec.span(cls, op)(issue(cls, i, op)))._2)
      catch {
        case NonFatal(e) =>
          res.samples += Sample(cls, Double.NaN)
          res.mismatches += cls -> s"measured op $i threw ${message(e)}"
      }
      i += 1
    }
    res.windowS = elapsed
    res.extra("cycle") = cycle.toList
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}

/** `tfidf_corpus` and `neardup_batch`: each op is one `SparkEntry` query,
  * run the way `graft.Bench` runs it: plan built and executed inside
  * `Caching.scoped`, noop sink, session cache cleared after. */
final class Batch(a: Main.Args, rec: Recorder, res: Main.Outcome, ops: Seq[String]) {
  import Main._

  private def runOp(spark: SparkSession, name: String, op: String,
      sink: Option[String]): Unit = {
    Caching.scoped {
      rec.tag(op, name, "build")
      val df = rec.span("build", op)(SparkEntry.queries(name)(spark, a.data))
      rec.tag(op, name, "exec")
      rec.span("exec", op) {
        sink match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(p) => df.write.mode("overwrite").parquet(p)
        }
      }
    }
    spark.catalog.clearCache()
  }

  def run(): SparkSession = {
    val oracle = SparkEntry.oracleSql
    val sql = mutable.LinkedHashMap.empty[String, String]
    var spark: SparkSession = null
    // set-up: session start plus two warm-up passes; the first one's
    // outputs go to parquet for the DuckDB oracle instead of the noop sink
    res.setupS = timed {
      rec.span("setup", "s") {
        spark = session(a, rec)
        ops.zipWithIndex.foreach { case (name, i) =>
          res.checked += 1
          try {
            rec.span(name, s"s$i")(runOp(spark, name, s"s$i", Some(s"${a.out}/check/$name")))
            sql(name) = oracle(name)
          } catch {
            case NonFatal(e) => res.mismatches += name -> s"check run threw ${message(e)}"
          }
        }
        ops.zipWithIndex.foreach { case (name, i) =>
          rec.span(name, s"w$i")(runOp(spark, name, s"w$i", None))
        }
      }
    }._2 / 1e3
    res.extra("oracle_sql") = sql.toMap
    closedLoop(a, rec, res, ops)((name, _, op) => runOp(spark, name, op, None))
    spark
  }
}

/**
 * `serve_mixed`: one client in a closed loop over a fixed request cycle.
 * Lexical probes hit a `Search.buildIndex` index; ANN probes hit the four
 * serve codecs; writes append a delta with `Similarity.appendAnnIndex`
 * and refresh the float tier's serve state with
 * `StreamingOps.refreshAnnServeState`.
 */
final class Serve(a: Main.Args, rec: Recorder, res: Main.Outcome) {
  import Main._

  val Tiers = Seq("float", "pq", "hamming", "int8")
  /** 4 lexical probes, 4 ANN probes (one per codec) and 1 write. */
  val Cycle = Seq("search", "ann.float", "search", "ann.pq", "search",
    "ann.hamming", "search", "ann.int8", "write")
  val K = 10
  val NProbe = 2
  val DeltaSize = 20

  private var spark: SparkSession = _
  private var queries: IndexedSeq[String] = _
  private var annQueries: IndexedSeq[(Long, Seq[Float])] = _
  private var deltas: DataFrame = _
  private val states = mutable.LinkedHashMap.empty[String, DataFrame]
  private var writes = 0
  private var stateGen = 0

  private val lexPath = s"${a.work}/lexical_index"
  private val annPath = s"${a.work}/ann_index"

  private def buildState(tier: String): DataFrame = tier match {
    case "pq" => StreamingOps.annServePqState(spark, annPath)
    case "hamming" => StreamingOps.annServeHammingState(spark, annPath, bits = 48)
    case "int8" => StreamingOps.annServeInt8State(spark, annPath)
    case _ => StreamingOps.annServeState(spark, annPath)
  }

  /** Serve states live as parquet artifacts, as a server would load them. */
  private def materialize(tier: String, df: DataFrame): DataFrame = {
    stateGen += 1
    val p = s"${a.work}/state_${tier}_$stateGen"
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def screen(tier: String, q: DataFrame, state: DataFrame): DataFrame =
    tier match {
      case "pq" => StreamingOps.annSearchStreamPq(q, state, K, NProbe)
      case "hamming" => StreamingOps.annSearchStreamHamming(q, state, K, NProbe)
      case "int8" => StreamingOps.annSearchStreamInt8(q, state, kTop = K, nProbe = NProbe)
      case _ => StreamingOps.annSearchStream(q, state, K, NProbe)
    }

  private def vectors(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def lexical(q: String, k: Option[Int]): Array[Row] =
    Rank.rank(Search.searchIndexed(spark, lexPath, q), k).collect()

  /** A public call that returns a plan, then its action: jobs launched
    * while the call builds the plan are tagged `build`, the action's
    * jobs `exec`; the span `name` covers both. */
  private def call[T](op: String, cls: String, name: String)(
      build: => DataFrame)(action: DataFrame => T): T =
    rec.span(name, op) {
      rec.tag(op, cls, "build")
      val df = rec.span("build", op)(build)
      rec.tag(op, cls, "exec")
      rec.span("exec", op)(action(df))
    }

  /** Request `i` of the cycle, of kind `cls`. */
  private def request(cls: String, i: Int, op: String): Unit = cls match {
    case "search" =>
      val q = queries(i % queries.size)
      val hits = call(op, cls, "index.probe")(
        Rank.rank(Search.searchIndexed(spark, lexPath, q), Some(K)))(_.collect())
      if (op.startsWith("m")) res.resultRows += hits.length
    case "write" =>
      // append one delta, then refresh the float tier's serve state; the
      // quantized tiers keep serving their set-up snapshot
      val lo = Serve.BaseVectors + writes.toLong * DeltaSize
      writes += 1
      rec.tag(op, cls, "exec")
      rec.span("append", op) {
        Similarity.appendAnnIndex(spark,
          deltas.where(col("vec_id").between(lo, lo + DeltaSize - 1)), annPath)
      }
      states("float") = call(op, cls, "serve.refresh.float")(
        StreamingOps.refreshAnnServeState(spark, annPath, states("float")))(
        materialize("float", _))
    case ann =>
      val t = ann.stripPrefix("ann.")
      val q = vectors(Seq(annQueries(i % annQueries.size)))
      call(op, cls, s"serve.search.$t")(screen(t, q, states(t)))(_.collect())
  }

  private def setup(): Unit = {
    spark = session(a, rec)
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet(s"${a.data}/documents.parquet")
      .select(col("doc_id").as("doc"), col("text").as("line"))
    rec.tag("s", "setup", "exec")
    rec.span("index.build", "s")(Search.buildIndex(docs, lexPath, fileCount = a.cores))
    rec.span("ann.build", "s") {
      Similarity.buildAnnIndex(spark.read.parquet(s"${a.data}/embeddings.parquet"),
        annPath, stride = 100, metaCols = Seq("label"))
    }
    Tiers.foreach { t =>
      states(t) = call("s", "setup", s"serve.state.$t")(buildState(t))(materialize(t, _))
    }
    queries = scala.io.Source.fromFile(s"${a.data}/lexical_queries.txt")
      .getLines().filter(_.nonEmpty).toIndexedSeq
    annQueries = spark.read.parquet(s"${a.data}/ann_queries.parquet")
      .orderBy("vec_id").as[(Long, Seq[Float], Int)].collect()
      .map { case (id, v, _) => (id, v) }.toIndexedSeq
    deltas = spark.read.parquet(s"${a.data}/deltas.parquet")
    // warm-up: one whole cycle, on queries the measured loop does not reach
    Cycle.zipWithIndex.foreach { case (cls, i) =>
      rec.span(cls, s"s$i")(request(cls, queries.size - 1 - i, s"s$i"))
    }
  }

  def run(): SparkSession = {
    res.setupS = timed(rec.span("setup", "s")(setup()))._2 / 1e3
    closedLoop(a, rec, res, Cycle)(request)
    res.extra("writes") = writes - 1
    check()
    spark
  }

  /** Untimed: indexed probes equal `Search.search` (the q71 ≡ q6
    * contract) and the refreshed float state equals a from-scratch
    * rebuild on the same index, judged by serving output. */
  private def check(): Unit = {
    rec.tag("check", "check", "check")
    val docs = spark.read.parquet(s"${a.data}/documents.parquet")
      .select(col("doc_id").as("doc"), col("text").as("line"))
    def rows(rs: Array[Row]) =
      rs.map(r => (r.get(0).toString, BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP))).toSeq.sortBy(_._1)
    // Search.search(docs, q) is searchTokens over TfIdf.tfidf(docs) with
    // distinct query tokens; the score table is computed once for all
    // checked queries
    val scores = TfIdf.tfidf(docs).persist()
    queries.take(3).foreach { q =>
      res.checked += 1
      try {
        val indexed = rows(lexical(q, None))
        val direct = rows(Rank.rank(
          Search.searchTokens(scores, TfIdf.tokenizeQuery(q).distinct)).collect())
        if (indexed != direct)
          res.mismatches += (s"search[$q]" ->
            s"indexed ${indexed.size} rows != Search.search ${direct.size} rows")
      } catch {
        case NonFatal(e) => res.mismatches += s"search[$q]" -> message(e)
      }
    }
    scores.unpersist()
    val probe = vectors(annQueries.take(8))
    res.checked += 1
    try {
      val got = screen("float", probe, states("float")).collect().map(_.toSeq).toSet
      val want = screen("float", probe, buildState("float")).collect().map(_.toSeq).toSet
      if (got != want)
        res.mismatches += ("refresh.float" ->
          (s"refreshed state serves ${got.size} rows, rebuild ${want.size}; " +
            s"${(got diff want).size} differ"))
    } catch {
      case NonFatal(e) => res.mismatches += "refresh.float" -> message(e)
    }
  }
}

object Serve {
  /** Base embedding rows are vec_id 0 until this; deltas follow. */
  val BaseVectors = 2000L
}
