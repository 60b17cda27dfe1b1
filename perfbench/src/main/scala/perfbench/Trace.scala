package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans line up with the epoch-millisecond times Spark stamps on
  * its listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans recorded by the harness around its calls into each layer. While
  * `enabled` is false a span only runs its body, so untraced passes pay
  * nothing for them. Spans are kept in memory and written at the end. */
final class Spans {
  @volatile var enabled = false
  import Spans.Rec
  private val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      current.set(id)
      val t0 = Clock.nowMs
      try body
      finally {
        recs.add(Rec(id, parent, name, t0, Clock.nowMs))
        current.set(parent)
      }
    }

  def toJson: JList[JMap[String, Any]] = {
    val out = new JList[JMap[String, Any]]()
    recs.asScala.toSeq.sortBy(_.id).foreach { r =>
      out.add(Json.obj("id" -> r.id, "parent" -> r.parent, "name" -> r.name,
        "start" -> r.start, "end" -> r.end))
    }
    out
  }
}

object Spans {
  final case class Rec(id: Long, parent: Long, name: String, start: Double, end: Double)
}

/** Spark engine, Catalyst and streaming observers, attached only in the
  * traced run. Every callback only appends to in-memory buffers; the
  * harness drains the listener bus before it reads them. */
final class EngineTrace extends SparkListener {
  private final class Stage(val id: Int, val attempt: Int) {
    var submitted = -1L; var completed = -1L; var tasks = 0; var failedTasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var input = 0L; var outBytes = 0L; var outRows = 0L
  }
  private val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JMap[String, Any]]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Seq[Int])]()  // id → (time, stage ids)
  private val submittedStages = ConcurrentHashMap.newKeySet[Int]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[JMap[String, Any]]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[JMap[String, Any]]()
  @volatile private var lastJobEnd = -1

  private def stage(id: Int, attempt: Int): Stage =
    stages.computeIfAbsent((id, attempt), _ => new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time, e.stageInfos.map(_.stageId)))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, stageIds) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time, Seq.empty))
    jobs.add(Json.obj("id" -> e.jobId, "start" -> start, "end" -> e.time,
      "skipped" -> stageIds.count(id => !submittedStages.contains(id))))
    lastJobEnd = e.jobId
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    submittedStages.add(si.stageId)
    val s = stage(si.stageId, si.attemptNumber())
    s.synchronized { s.submitted = si.submissionTime.getOrElse(System.currentTimeMillis()) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val s = stage(si.stageId, si.attemptNumber())
    s.synchronized {
      if (s.submitted < 0) s.submitted = si.submissionTime.getOrElse(-1L)
      s.completed = si.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      if (s.submitted >= 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitted)
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten; s.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Id of the last Spark job whose end event was delivered. */
  def lastEndedJob: Int = lastJobEnd

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      def phase(p: String): Double =
        qe.tracker.phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val end = System.currentTimeMillis()
      queries.add(Json.obj("end" -> end, "start" -> (end - durationNs / 1e6),
        "analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
        "planning_ms" -> phase("planning"), "topk" -> EngineTrace.countTopK(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.doubleValue).getOrElse(0.0)
      progress.add(Json.obj("ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "query_planning_ms" -> ms("queryPlanning"), "wal_commit_ms" -> ms("walCommit"),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def toJson: JMap[String, Any] = {
    val st = new JList[JMap[String, Any]]()
    stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt)).foreach { s =>
      st.add(Json.obj("id" -> s.id, "attempt" -> s.attempt, "submitted" -> s.submitted,
        "completed" -> s.completed, "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "wait_ms" -> s.waitMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill" -> s.spill, "input" -> s.input,
        "output_bytes" -> s.outBytes, "output_rows" -> s.outRows))
    }
    Json.obj("jobs" -> new JList[Any](jobs), "stages" -> st,
      "queries" -> new JList[Any](queries), "progress" -> new JList[Any](progress))
  }
}

object EngineTrace {
  /** TopKPerKey operators in an executed plan; with adaptive execution the
    * final plan and its query stages are walked, not the initial plan. */
  def countTopK(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => countTopK(a.executedPlan)
    case q: QueryStageExec => countTopK(q.plan)
    case _ =>
      (if (p.nodeName.startsWith("TopKPerKey")) 1 else 0) +
        p.children.map(countTopK).sum + p.subqueries.map(countTopK).sum
  }
}

/** JVM-wide counters read around each job and the timed loop. */
object JvmStats {
  import java.lang.management.ManagementFactory
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** (collection time ms, collection count) summed over all collectors. */
  def gc(): (Long, Long) =
    gcs.foldLeft((0L, 0L)) { case ((t, c), b) =>
      (t + math.max(0L, b.getCollectionTime), c + math.max(0L, b.getCollectionCount))
    }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** Peak resident set (VmHWM) of this JVM in MB, from /proc/self/status. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
