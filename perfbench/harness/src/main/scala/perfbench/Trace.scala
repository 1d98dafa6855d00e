package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and listener records of a traced run, kept in memory and
  * written once at the end.
  *
  * The harness opens spans around its own calls (run, setup, pass,
  * gate, build, action). Spark's public listeners add the rest:
  * jobs and stages (`SparkListener`, tied to a gate by the local
  * properties the harness sets before each call), the Catalyst phases
  * of every eager Dataset action (`QueryExecutionListener`), streaming
  * micro-batches (`StreamingQueryListener`) and cached-block sizes.
  * Times are epoch milliseconds. Listener events arrive on Spark's
  * listener bus, so records are attributed when the run is summarised,
  * not when they arrive.
  */
final class Trace {
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]
  private val taskAgg = mutable.HashMap.empty[(Int, Int), Array[Long]]
  private val queryPhases = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val blocks = mutable.HashMap.empty[String, Long]
  private val cacheSeries = mutable.ArrayBuffer.empty[Seq[Double]]
  private var cacheBytes = 0L

  def span(kind: String, name: String, parent: Long, t0: Double, t1: Double,
      attrs: Map[String, Any] = Map.empty): Long = synchronized {
    nextId += 1
    spans += Map("id" -> nextId, "parent" -> parent, "kind" -> kind,
      "name" -> name, "t0" -> t0, "t1" -> t1, "attrs" -> attrs)
    nextId
  }

  /** Reserve an id for a span whose end is not known yet. */
  def open(): Long = synchronized { nextId += 1; nextId }

  def close(id: Long, kind: String, name: String, parent: Long,
      t0: Double, t1: Double, attrs: Map[String, Any] = Map.empty): Unit =
    synchronized {
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "t0" -> t0, "t1" -> t1, "attrs" -> attrs)
    }

  /** Catalyst phases and Exchange count of a gate's final frame, read
    * after its action (the `toRdd` path fires no listener). */
  def finalPlan(gate: String, pass: Int, qe: QueryExecution): Unit = synchronized {
    queryPhases += phases(qe) ++ Map("gate" -> gate, "pass" -> pass, "func" -> "final",
      "exchanges" -> Trace.exchanges(qe.executedPlan))
  }

  private def phases(qe: QueryExecution): Map[String, Any] =
    qe.tracker.phases.map { case (k, p) =>
      k -> Map("t0" -> p.startTimeMs.toDouble, "t1" -> p.endTimeMs.toDouble)
    }.toMap

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "t0" -> e.time.toDouble,
        "gate" -> prop(Harness.GateKey), "phase" -> prop(Harness.PhaseKey),
        "pass" -> prop(Harness.PassKey).map(_.toInt), "stages" -> e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j("t1") = e.time.toDouble
        j("ok") = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val s = e.stageInfo
        val key = (s.stageId, s.attemptNumber())
        stages(key) = mutable.Map("id" -> s.stageId, "attempt" -> s.attemptNumber(),
          "job" -> stageJob.get(s.stageId),
          "t0" -> s.submissionTime.map(_.toDouble),
          "t1" -> s.completionTime.map(_.toDouble),
          "ok" -> s.failureReason.isEmpty)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val a = taskAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](Trace.TaskFields.size))
      a(0) += 1
      if (!e.taskInfo.successful) a(1) += 1
      val m = e.taskMetrics
      if (m != null) {
        val recsIn = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        val recsOut = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
        if (recsIn > 0 || recsOut > 0) a(2) += 1
        a(3) += m.executorRunTime
        a(4) += m.executorCpuTime
        a(5) += m.jvmGCTime
        a(6) += m.shuffleWriteMetrics.bytesWritten
        a(7) += m.shuffleReadMetrics.totalBytesRead
        a(8) += m.shuffleReadMetrics.fetchWaitTime
        a(9) += m.inputMetrics.bytesRead
        a(10) += m.inputMetrics.recordsRead
        a(11) += m.outputMetrics.bytesWritten
        a(12) += m.outputMetrics.recordsWritten
        a(13) += m.diskBytesSpilled
        a(14) = math.max(a(14), m.peakExecutionMemory)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize + info.diskSize
        cacheBytes += size - blocks.getOrElse(info.blockId.name, 0L)
        if (size == 0L) blocks.remove(info.blockId.name) else blocks(info.blockId.name) = size
        cacheSeries += Seq(System.currentTimeMillis().toDouble, cacheBytes.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized { queryPhases += phases(qe) + ("func" -> funcName) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      Trace.this.synchronized { queryPhases += phases(qe) + ("func" -> funcName) }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.longValue()).getOrElse(0L)
        batches += Map(
          "t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "query" -> p.runId.toString, "batch" -> p.batchId,
          "rows" -> p.numInputRows,
          "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
          "planning_ms" -> ms("queryPlanning"),
          "commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait (bounded) until every started job has ended, so the record is
    * complete when it is written. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.values.count(!_.contains("t1")))
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  def record: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.toList,
      "jobs" -> jobs.values.map(_.toMap).toList,
      "stages" -> stages.map { case (k, s) =>
        s.toMap ++ Trace.TaskFields.zip(taskAgg.getOrElse(k, new Array[Long](Trace.TaskFields.size)))
      }.toList,
      "queries" -> queryPhases.toList,
      "batches" -> batches.toList,
      "cache_series" -> cacheSeries.toList)
  }
}

object Trace {
  val TaskFields: Seq[String] = Seq("tasks", "task_failures", "useful_tasks",
    "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
    "fetch_wait_ms", "input_bytes", "input_rows", "output_bytes", "output_rows",
    "spill_bytes", "peak_exec_bytes")

  /** Exchanges in a physical plan, looking through adaptive wrappers
    * and query stages to the plan that actually ran. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum
  }
}
