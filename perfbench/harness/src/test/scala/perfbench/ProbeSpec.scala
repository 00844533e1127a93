package perfbench

import org.apache.spark.{Success, TaskMetricsFixture}
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDInfo
import org.scalatest.funsuite.AnyFunSuite

/** Feeds synthetic listener events through [[Probe]] and checks the
  * stage-wall, skew and outside-jobs arithmetic of [[Layers]]. */
class ProbeSpec extends AnyFunSuite {
  private def stage(id: Int, tasks: Int, submitted: Long, completed: Long): StageInfo = {
    val info = new StageInfo(id, 0, s"stage $id", tasks, Seq.empty[RDDInfo], Seq.empty,
      "", resourceProfileId = 0)
    info.submissionTime = Some(submitted)
    info.completionTime = Some(completed)
    info
  }

  private def task(stage: Int, runMs: Long) =
    TaskCost(stage, 0, runMs, cpuNs = runMs * 1000000L, gcMs = 1, shuffleReadB = 1024 * 1024,
      shuffleWriteB = 0, spillB = 0)

  test("stage walls come from the completed StageInfo, jobs from start and end events") {
    val p = new Probe
    p.onJobStart(SparkListenerJobStart(7, 1100L, Seq.empty))
    // a stage whose submission was never seen still carries its times
    p.onStageCompleted(SparkListenerStageCompleted(stage(3, 4, 1150L, 1400L)))
    p.onJobEnd(SparkListenerJobEnd(7, 1500L, JobSucceeded))
    val w = p.take(1000L, 1050L, 2000L)
    assert(w.jobs == Seq(JobSpan(7, 1100L, 1500L)))
    assert(w.stages == Seq(StageSpan(3, 0, 4, 1150L, 1400L)))
    val l = Layers.summarize(Seq(w), cores = 4)
    assert(l("exec.stage_wall_s") == 0.25)
    assert(l("exec.jobs") == 1.0 && l("exec.stages") == 1.0)
    // 1000 ms wall, one 400 ms job
    assert(l("exec.outside_jobs_s") == 0.6)
    // the job started after the DataFrame was built
    assert(l("operators.build_jobs") == 0.0)
    // take() starts a fresh window
    assert(p.take(0, 0, 0).jobs.isEmpty)
  }

  test("outside-jobs time subtracts the union of overlapping, clipped job intervals") {
    val jobs = Seq(JobSpan(1, 100, 300), JobSpan(2, 200, 400), // overlap: union 300
      JobSpan(3, 600, 700), JobSpan(4, 650, 680), // nested: union 100
      JobSpan(5, 900, 1200)) // clipped at hi = 1000: 100
    val w = OpWindow(0, 150, 1000, jobs, Nil, Nil, Map.empty)
    assert(Layers.unionMs(jobs.map(j => (j.startMs, j.endMs)), 0, 1000) == 500)
    assert(Layers.outsideJobsMs(w) == 500)
    assert(Layers.summarize(Seq(w), 1)("operators.build_jobs") == 1.0)
    assert(Layers.outsideJobsMs(w.copy(jobs = Nil)) == 1000)
  }

  test("skew is max over median task time per stage, weighted by stage task time") {
    // stage 1: 10,10,10,50 -> median 10, max 50: 5.0, weight 80
    // stage 2: 20,20 -> 1.0, weight 40; stage 3 has one task and is ignored
    val tasks = Seq(10L, 10L, 10L, 50L).map(task(1, _)) ++ Seq(20L, 20L).map(task(2, _)) :+
      task(3, 500)
    val w = OpWindow(0, 0, 1000, Nil, Nil, tasks, Map("planning" -> 30L, "analysis" -> 5L))
    val l = Layers.summarize(Seq(w), cores = 2)
    assert(math.abs(l("exec.skew") - (5.0 * 80 + 1.0 * 40) / 120) < 1e-12)
    assert(l("exec.tasks") == 7.0)
    assert(l("exec.task_s") == 0.62)
    assert(math.abs(l("exec.core_util") - 0.62 / 2.0) < 1e-12)
    assert(l("exec.shuffle_read_mb") == 7.0)
    assert(l("catalyst.planning_s") == 0.03 && l("catalyst.optimization_s") == 0.0)
    assert(Layers.stageSkew(Seq(1L, 2L, 3L, 4L)) == 4.0 / 2.5)
    assert(Layers.stageSkew(Nil) == 0.0)
  }

  test("task-end events carry run, cpu, gc and spill into the window") {
    val p = new Probe
    Seq(10L, 10L, 10L, 50L).foreach { ms =>
      p.onTaskEnd(SparkListenerTaskEnd(1, 0, "ResultTask", Success, null, null,
        TaskMetricsFixture(ms, ms * 1000000L, 2, 1024 * 1024)))
    }
    // a task that failed before reporting metrics is skipped
    p.onTaskEnd(SparkListenerTaskEnd(1, 0, "ResultTask", Success, null, null, null))
    val w = p.take(0, 0, 1000)
    assert(w.tasks.map(_.runMs) == Seq(10L, 10L, 10L, 50L))
    val l = Layers.summarize(Seq(w), cores = 4)
    assert(l("exec.skew") == 5.0)
    assert(l("exec.cpu_s") == 0.08 && l("exec.gc_s") == 0.008 && l("exec.spill_mb") == 4.0)
  }

  test("micro-batch growth compares the last quarter of batches with the first") {
    val bs = Seq(100L, 120L, 200L, 210L, 220L, 230L, 300L, 340L).zipWithIndex.map {
      case (t, i) => Batch(i, t, t - 40, 10)
    }
    val l = Layers.ingest(bs)
    assert(l("ingest.batch_growth") == 320.0 / 110.0)
    assert(l("ingest.overhead_s") == 0.04)
    assert(math.abs(l("ingest.add_batch_s") - 0.175) < 1e-12)
  }
}
