package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: workload > op > job > stage, plus a zero-width-ish
 * `query` span per executed QueryExecution under its op. Times are epoch
 * milliseconds; `attrs` holds the counters recorded at that boundary. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long, attrs: Map[String, Double]) {
  def toJson: String = {
    val a = attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":$id,"parent":$parent,"kind":"$kind","name":"$name","start":$start,"end":$end,"attrs":{$a}}"""
  }
}

/** Per-layer counters of one traced op execution, derived from its spans. */
final case class OpLayers(wallS: Double, jobs: Double, jobS: Double,
    driverS: Double, stages: Double, tasks: Double, taskS: Double,
    gcS: Double, resultMb: Double, shuffleMb: Double, spillMb: Double,
    planMs: Double, planNodes: Double)

/**
 * The benchmark's own SparkListener + QueryExecutionListener. It is only
 * registered during traced passes. Jobs, stages and query events are
 * attributed to the op that is open while they are delivered: the client
 * is a closed loop and the listener bus is drained before an op closes,
 * so every event of an op arrives inside its window. Spans stay in memory
 * and are written out when the run ends.
 */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  @volatile private var openOp: Long = 0L
  // job id -> (span id, start ms, op span id); stage id -> job span id
  private val jobs = scala.collection.mutable.Map.empty[Int, (Long, Long, Long)]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Long]
  private var installed = false
  val workloadSpan: Long = newId()

  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }
  private def add(s: Span): Unit = synchronized { spans += s }

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    installed = false
  }

  /** Open an op span; returns its id. */
  def openOpSpan(): Long = { val id = newId(); openOp = id; id }

  /** Close the open op span after its events have been delivered. */
  def closeOpSpan(id: Long, name: String, start: Long, end: Long): OpLayers = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    openOp = 0L
    add(Span(id, workloadSpan, "op", name, start, end, Map.empty))
    layersOf(id, start, end)
  }

  def closeWorkload(name: String, start: Long, end: Long): Unit =
    add(Span(workloadSpan, 0L, "workload", name, start, end, Map.empty))

  def spanCount: Int = synchronized(spans.size)

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try synchronized(spans.foreach(s => w.println(s.toJson))) finally w.close()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (openOp != 0L) {
    val id = newId()
    synchronized {
      jobs(e.jobId) = (id, e.time, openOp)
      e.stageIds.foreach(s => stageJob(s) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (id, start, op) =>
      spans += Span(id, op, "job", s"job-${e.jobId}", start, e.time,
        Map.empty)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    synchronized(stageJob.remove(info.stageId)).foreach { parent =>
      val m = info.taskMetrics
      val attrs =
        if (m == null) Map("tasks" -> info.numTasks.toDouble)
        else Map(
          "tasks" -> info.numTasks.toDouble,
          "task_ms" -> m.executorRunTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "result_bytes" -> m.resultSize.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill_bytes" -> m.diskBytesSpilled.toDouble)
      val start = info.submissionTime.getOrElse(0L)
      add(Span(newId(), parent, "stage", s"stage-${info.stageId}", start,
        info.completionTime.getOrElse(start), attrs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (openOp != 0L) {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val end = System.currentTimeMillis()
    add(Span(newId(), openOp, "query", funcName, end - durationNs / 1000000L,
      end, Map("plan_ms" -> planMs,
        "plan_nodes" -> Recorder.nodes(qe.executedPlan).toDouble)))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def layersOf(opId: Long, start: Long, end: Long): OpLayers = {
    val all = synchronized(spans.toVector)
    val jobSpans = all.filter(s => s.kind == "job" && s.parent == opId)
    val jobIds = jobSpans.map(_.id).toSet
    val stages = all.filter(s => s.kind == "stage" && jobIds(s.parent))
    val queries = all.filter(s => s.kind == "query" && s.parent == opId)
    def sum(xs: Seq[Span], key: String): Double =
      xs.map(_.attrs.getOrElse(key, 0.0)).sum
    val wall = (end - start) / 1000.0
    val covered = Recorder.covered(start, end, jobSpans.map(s => (s.start, s.end))) / 1000.0
    OpLayers(wall, jobSpans.size, covered, wall - covered, stages.size,
      sum(stages, "tasks"), sum(stages, "task_ms") / 1000.0,
      sum(stages, "gc_ms") / 1000.0, sum(stages, "result_bytes") / 1e6,
      sum(stages, "shuffle_write_bytes") / 1e6, sum(stages, "spill_bytes") / 1e6,
      sum(queries, "plan_ms"), sum(queries, "plan_nodes"))
  }
}

object Recorder {

  /** Milliseconds of [start, end] covered by the union of `intervals`:
   * a span's self time is its duration minus this. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Physical-plan node count, descending into adaptive plans, query
   * stages and subqueries. */
  def nodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => 1 + nodes(q.plan)
    case _ => 1 + p.children.map(nodes).sum + p.subqueries.map(nodes).sum
  }
}
