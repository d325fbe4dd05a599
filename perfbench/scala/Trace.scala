package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one workload run, fed by Spark's public listener
  * APIs. Nothing is written while the workload runs: [[result]] hands
  * the raw records to `run.py`, which builds the span tree, self times
  * and per-layer metrics. Only events between [[open]] and [[close]] are
  * kept, so warm-up and correctness checks stay out of the numbers. */
final class Recorder(spark: SparkSession) {
  @volatile private var recording = false
  @volatile private var from = Long.MaxValue
  @volatile private var cutoff = Long.MaxValue
  private def keep(t: Long): Boolean = recording && t >= from && t <= cutoff
  private val jobs = mutable.LinkedHashMap.empty[Int, Array[Long]] // start, end
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val counters = mutable.LinkedHashMap[String, Long](
    "tasks" -> 0L, "cpu_ms" -> 0L, "run_ms" -> 0L, "gc_ms" -> 0L, "task_wait_ms" -> 0L,
    "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L, "spill_bytes" -> 0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (keep(e.time)) synchronized {
      jobs(e.jobId) = Array(e.time, -1L)
      jobStages(e.jobId) = e.stageIds
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_(1) = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (keep(e.taskInfo.launchTime)) synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        val read = m.shuffleReadMetrics.totalBytesRead
        def add(k: String, v: Long): Unit = counters(k) += v
        add("tasks", 1)
        add("cpu_ms", m.executorCpuTime / 1000000L)
        add("run_ms", m.executorRunTime)
        add("gc_ms", m.jvmGCTime)
        add("task_wait_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", read)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ((info.duration, read))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (keep(e.stageInfo.submissionTime.getOrElse(0L))) synchronized {
      val i = e.stageInfo
      val tasks = stageTasks.remove(i.stageId).getOrElse(mutable.ArrayBuffer.empty)
      stages += Map(
        "stage" -> i.stageId, "job" -> stageJob.getOrElse(i.stageId, -1),
        "start" -> i.submissionTime.getOrElse(0L), "end" -> i.completionTime.getOrElse(0L),
        "tasks" -> i.numTasks,
        "task_ms" -> tasks.map(_._1).toSeq, "read_bytes" -> tasks.map(_._2).toSeq)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (keep(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)) synchronized {
        progress += Recorder.progressRecord(e.progress)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
        val rec = Map("func" -> funcName, "phases" -> phases,
          "exec_ms" -> durationNs / 1e6, "plan" -> Recorder.planShape(qe.executedPlan))
        synchronized { executions += rec }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    this
  }

  def open(atMs: Long = System.currentTimeMillis()): Unit = { from = atMs; recording = true }
  /** Ignore work that starts after `atMs`, wait until the listener buses
    * have delivered the end of what started before it, then stop. */
  def close(atMs: Long = System.currentTimeMillis()): Unit = {
    cutoff = atMs
    Recorder.settle(() => synchronized(jobs.values.count(_(1) < 0)))
    recording = false
  }

  def addSpan(kind: String, name: String, startMs: Long, endMs: Long): Unit = synchronized {
    spans += Map("kind" -> kind, "name" -> name, "start" -> startMs, "end" -> endMs)
  }

  def span[A](kind: String, name: String)(body: => A): A = {
    val s = System.currentTimeMillis()
    try body finally addSpan(kind, name, s, System.currentTimeMillis())
  }

  def result: Map[String, Any] = synchronized(Map(
    "jobs" -> jobs.toSeq.map { case (id, t) => Seq(id, t(0), t(1), jobStages.getOrElse(id, Nil)) },
    "stages" -> stages.toList, "progress" -> progress.toList,
    "executions" -> executions.toList, "spans" -> spans.toList,
    "counters" -> counters.toMap))
}

object Recorder {
  /** Poll `pending` until it reads 0 or two seconds pass. */
  def settle(pending: () => Int): Unit = {
    val deadline = System.currentTimeMillis() + 2000
    while (pending() > 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  def progressRecord(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = Map(
    "batch" -> p.batchId,
    "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
    "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    "rows_in" -> p.numInputRows,
    "rows_out" -> p.sink.numOutputRows,
    "sources" -> p.sources.toSeq.map(s => Map(
      "start" -> s.startOffset, "end" -> s.endOffset, "latest" -> s.latestOffset)),
    "state" -> p.stateOperators.toSeq.map(o => Map(
      "rows_total" -> o.numRowsTotal, "rows_updated" -> o.numRowsUpdated,
      "memory_bytes" -> o.memoryUsedBytes, "commit_ms" -> o.commitTimeMs,
      "update_ms" -> o.allUpdatesTimeMs,
      "custom" -> o.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap)))

  /** Exchange and join-strategy counts of a physical plan, looking
    * through adaptive wrappers to the final plan. */
  def planShape(plan: SparkPlan): Map[String, Int] = {
    val counts = mutable.Map("exchanges" -> 0, "smj" -> 0, "bhj" -> 0, "bnlj_cartesian" -> 0)
    def walk(p: SparkPlan): Unit = {
      p.nodeName match {
        case "Exchange" => counts("exchanges") += 1
        case "SortMergeJoin" => counts("smj") += 1
        case "BroadcastHashJoin" => counts("bhj") += 1
        case "BroadcastNestedLoopJoin" | "CartesianProduct" => counts("bnlj_cartesian") += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => p.children.foreach(walk)
      }
    }
    walk(plan)
    counts.toMap
  }
}
