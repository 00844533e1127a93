package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** A finished job: wall-clock ms of its start and end events. */
final case class JobSpan(id: Int, startMs: Long, endMs: Long)

/** A finished stage attempt, with times taken from the completed
  * `StageInfo` (never from a record created at submission). */
final case class StageSpan(id: Int, attempt: Int, tasks: Int,
                           submittedMs: Long, completedMs: Long)

/** One finished task's cost. */
final case class TaskCost(stage: Int, attempt: Int, runMs: Long, cpuNs: Long,
                          gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
                          spillB: Long)

/** Everything the listeners saw while one timed operation ran.
  * `[loMs, hiMs]` is the operation's wall interval and `[loMs, builtMs]`
  * the part spent building its DataFrame. */
final case class OpWindow(loMs: Long, builtMs: Long, hiMs: Long,
                          jobs: Seq[JobSpan], stages: Seq[StageSpan],
                          tasks: Seq[TaskCost], phaseMs: Map[String, Long])

/** One streaming micro-batch's timings and input rows. */
final case class Batch(id: Long, triggerMs: Long, addBatchMs: Long, rows: Long)

object Batch {
  def of(p: StreamingQueryProgress): Batch = {
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    Batch(p.batchId, ms("triggerExecution"), ms("addBatch"), p.numInputRows)
  }

  /** Batches that read input, one per batch id (a query also reports
    * idle triggers, which carry no rows). */
  def ofAll(ps: Seq[StreamingQueryProgress]): Seq[Batch] =
    ps.map(of).filter(_.rows > 0).groupBy(_.id).values.map(_.last).toSeq.sortBy(_.id)
}

/** Records job, stage, task, Catalyst-phase and micro-batch events.
  * Callbacks run on the listener-bus thread; the driver drains the bus
  * before [[take]], so a window holds exactly one operation's events. */
class Probe extends SparkListener with QueryExecutionListener {
  private val started = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[JobSpan]
  private val stages = ArrayBuffer.empty[StageSpan]
  private val tasks = ArrayBuffer.empty[TaskCost]
  private val phases = scala.collection.mutable.Map.empty[String, Long]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { started(e.jobId) = e.time }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += JobSpan(e.jobId, started.remove(e.jobId).getOrElse(e.time), e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val done = i.completionTime.getOrElse(System.currentTimeMillis())
    synchronized {
      stages += StageSpan(i.stageId, i.attemptNumber(), i.numTasks,
        i.submissionTime.getOrElse(done), done)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskCost(e.stageId, e.stageAttemptId, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (k, p) =>
        phases(k) = phases.getOrElse(k, 0L) + p.durationMs
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The window recorded since the last call, then forget it. */
  def take(loMs: Long, builtMs: Long, hiMs: Long): OpWindow = synchronized {
    val w = OpWindow(loMs, builtMs, hiMs, jobs.toList, stages.toList, tasks.toList,
      phases.toMap)
    jobs.clear(); stages.clear(); tasks.clear(); phases.clear(); started.clear()
    w
  }

  def takeBatches(): Seq[Batch] = synchronized {
    val b = Batch.ofAll(progress.toList); progress.clear(); b
  }
}

/** Per-layer arithmetic over the windows of one pass. Pure, so the
  * spec can feed it synthetic events. */
object Layers {
  /** Length of the union of `spans`, each clipped to `[lo, hi]`. */
  def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Operation wall that no job covers: driver-side planning, eager
    * collects' result handling, and scheduling gaps. */
  def outsideJobsMs(w: OpWindow): Long =
    (w.hiMs - w.loMs) - unionMs(w.jobs.map(j => (j.startMs, j.endMs)), w.loMs, w.hiMs)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Max over median task run time of one stage attempt (1.0 when every
    * task took the same time, 0 when it has no tasks or no run time). */
  def stageSkew(runMs: Seq[Long]): Double = {
    val med = median(runMs.map(_.toDouble))
    if (runMs.isEmpty || med <= 0) 0.0 else runMs.max / med
  }

  /** Per-layer metrics of one pass over `windows`, on `cores` cores.
    * Skew averages the per-stage ratio over stages with at least two
    * tasks, weighted by each stage's task time, so the stages that
    * cost the most dominate. */
  def summarize(windows: Seq[OpWindow], cores: Int): Map[String, Double] = {
    val tasks = windows.flatMap(_.tasks)
    val wallMs = windows.map(w => w.hiMs - w.loMs).sum.toDouble
    val taskMs = tasks.map(_.runMs).sum.toDouble
    val byStage = tasks.groupBy(t => (t.stage, t.attempt)).values.map(_.map(_.runMs))
      .filter(_.size >= 2)
    val weight = byStage.map(_.sum.toDouble).sum
    val skew =
      if (weight <= 0) 0.0
      else byStage.map(r => stageSkew(r) * r.sum).sum / weight
    def phase(k: String) = windows.map(_.phaseMs.getOrElse(k, 0L)).sum / 1e3
    val mb = 1024.0 * 1024.0
    Map(
      "operators.build_jobs" -> windows.map(w => w.jobs.count(j =>
        j.startMs >= w.loMs && j.startMs <= w.builtMs)).sum.toDouble,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "exec.outside_jobs_s" -> windows.map(outsideJobsMs).sum / 1e3,
      "exec.jobs" -> windows.map(_.jobs.size).sum.toDouble,
      "exec.stages" -> windows.map(_.stages.size).sum.toDouble,
      "exec.stage_wall_s" -> windows.flatMap(_.stages)
        .map(s => s.completedMs - s.submittedMs).sum / 1e3,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_s" -> taskMs / 1e3,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.core_util" -> (if (wallMs <= 0) 0.0 else taskMs / (wallMs * cores)),
      "exec.skew" -> skew,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleReadB).sum / mb,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWriteB).sum / mb,
      "exec.spill_mb" -> tasks.map(_.spillB).sum / mb)
  }

  /** Micro-batch metrics of one ingest pass (all 0 for a pass without
    * micro-batches). Growth compares the median trigger time of the
    * last quarter of batches with the first. */
  def ingest(batches: Seq[Batch]): Map[String, Double] = {
    val q = math.max(1, batches.size / 4)
    def med(bs: Seq[Batch]) = median(bs.map(_.triggerMs.toDouble))
    val first = med(batches.take(q))
    Map(
      "ingest.add_batch_s" -> median(batches.map(_.addBatchMs / 1e3)),
      "ingest.overhead_s" -> median(batches.map(b => (b.triggerMs - b.addBatchMs) / 1e3)),
      "ingest.batch_growth" -> (if (first <= 0) 0.0 else med(batches.takeRight(q)) / first))
  }
}
