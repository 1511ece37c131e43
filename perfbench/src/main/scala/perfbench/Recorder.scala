package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/**
 * Outside-in tracing. Spans are kept in memory around each public call
 * the benchmark makes; a `SparkListener` and a `QueryExecutionListener`
 * record jobs, per-stage task sums, planning phases and cached blocks.
 * Nothing here touches the engine: the op identity reaches the
 * listener through Spark local properties set on the client thread.
 *
 * With tracing off no listener is registered and spans cost one branch,
 * so the untraced run measures the engine alone.
 */
final class Recorder(val enabled: Boolean) {
  import Recorder._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: SparkContext = _

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val sec = (System.nanoTime() - n0) / 1e9
        stack = stack.tail
        spans += Span(id, name, parent, op, t0, sec)
      }
    }

  /** Tag every job the client thread submits until the next call. */
  def tag(op: String, cls: String, phase: String): Unit =
    if (enabled) {
      sc.setLocalProperty(OpKey, op)
      sc.setLocalProperty(ClsKey, cls)
      sc.setLocalProperty(PhaseKey, phase)
    }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, StageSums]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var cachePeak = 0L
  private val cacheRdds = mutable.HashSet.empty[Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val j = Job(e.jobId, prop(OpKey), prop(ClsKey), prop(PhaseKey), e.time, e.time)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, StageSums(e.stageId,
        stageJob.get(e.stageId).map(_.id).getOrElse(-1)))
      s.tasks += 1
      if (e.reason != TaskSuccess) s.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case RDDBlockId(rdd, _) =>
          val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          cachedBytes += size - blockBytes.getOrElse(info.blockId.name, 0L)
          if (size > 0) {
            blockBytes(info.blockId.name) = size
            cacheRdds += rdd
          } else blockBytes.remove(info.blockId.name)
          cachePeak = math.max(cachePeak, cachedBytes)
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      planned(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      planned(qe)
    private def planned(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Recorder.this.synchronized {
        plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum / 1e3))
      }
    }
  }

  /** Register the listeners on a fresh session (tracing on only). */
  def attach(spark: SparkSession): Unit =
    if (enabled) {
      sc = spark.sparkContext
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    }

  /** Drain the bus, then start the measured window's cache peak. */
  def openWindow(): Unit =
    if (enabled) {
      org.apache.spark.PerfbenchBus.drain(sc)
      synchronized { cachePeak = cachedBytes; cacheRdds.clear() }
    }

  /** Everything recorded, as plain maps and lists for the JSON record. */
  def dump(): Map[String, Any] =
    if (!enabled) Map("enabled" -> false)
    else {
      org.apache.spark.PerfbenchBus.drain(sc)
      synchronized {
        Map(
          "enabled" -> true,
          "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
            "dur_s" -> s.durS)).toList,
          "jobs" -> jobs.map(j => Map("id" -> j.id, "op" -> j.op,
            "cls" -> j.cls, "phase" -> j.phase, "start_ms" -> j.startMs,
            "end_ms" -> j.endMs)).toList,
          "stages" -> stages.values.map(_.toMap).toList,
          "plans" -> plans.map { case (t, s) => Map("start_ms" -> t, "s" -> s) }.toList,
          "cache_peak_bytes" -> cachePeak,
          "cache_rdds" -> cacheRdds.size)
      }
    }
}

object Recorder {
  val OpKey = "perfbench.op"
  val ClsKey = "perfbench.cls"
  val PhaseKey = "perfbench.phase"

  final case class Span(id: Int, name: String, parent: Int, op: String,
      startMs: Long, durS: Double)

  final case class Job(id: Int, op: String, cls: String, phase: String,
      startMs: Long, var endMs: Long)

  final case class StageSums(stage: Int, job: Int) {
    var tasks, failures = 0L
    var runMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var inBytes, inRows, outBytes, outRows = 0L
    def toMap: Map[String, Any] = Map("stage" -> stage, "job" -> job,
      "tasks" -> tasks, "failures" -> failures, "run_ms" -> runMs,
      "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "fetch_wait_ms" -> fetchWaitMs,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "spill" -> spill, "in_bytes" -> inBytes, "in_rows" -> inRows,
      "out_bytes" -> outBytes, "out_rows" -> outRows)
  }
}
