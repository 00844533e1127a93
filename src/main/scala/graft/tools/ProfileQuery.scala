package graft.tools

import graft.Bench
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-stage profile of one registered query: wall time, task count,
  * max vs median task ms (skew / lost parallelism), shuffle read/write
  * bytes and input bytes per stage, plus the job count (each job is a
  * driver round-trip — collect()s and broadcast builds show up here).
  *
  * Usage: `runMain graft.tools.ProfileQuery <query> [warmRuns] [sfDir]`
  * Profiles the run AFTER `warmRuns` warm-ups (default 1), so JIT and
  * plan compilation don't pollute the stage table — the same regime the
  * bench's timed runs see.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("agg_avg")
    val warmRuns = args.lift(1).map(_.toInt).getOrElse(1)
    val sfDir = args.lift(2).getOrElse(Bench.envSfDir)
    val (spark, _) = Bench.session(sfDir)
    def run(): Double = Bench.runOnce(spark, sfDir, name)
    for (i <- 1 to warmRuns) println(f"[profile] warm-up $i: ${run()}%.3f s")

    case class StageRec(stageId: Int, name: String, nTasks: Int,
                        submit: Long, complete: Long,
                        shufRead: Long, shufWrite: Long, input: Long, spill: Long)
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    // task-end events can arrive before stage-completed, so durations
    // are gathered per stage id on their own
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, start, end
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += ((e.jobId, e.time, -1L)) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          val i = jobs.lastIndexWhere(_._1 == e.jobId)
          if (i >= 0) jobs(i) = (e.jobId, jobs(i)._2, e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val done = si.completionTime.getOrElse(System.currentTimeMillis())
        stages.synchronized {
          stages(si.stageId) = StageRec(si.stageId, si.name, si.numTasks,
            si.submissionTime.getOrElse(done), done,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.inputMetrics.bytesRead, m.diskBytesSpilled)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stages.synchronized {
          taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val wall = run()
    ListenerBusDrain(spark.sparkContext) // every event of the run delivered

    println(f"[profile] $name profiled run: $wall%.3f s, ${jobs.size} jobs, ${stages.size} stages")
    def mb(b: Long) = f"${b / 1048576.0}%8.1f"
    println(f"${"stage"}%6s ${"tasks"}%5s ${"wall_ms"}%8s ${"sum_ms"}%8s ${"max_ms"}%7s ${"med_ms"}%7s ${"in_MB"}%8s ${"sr_MB"}%8s ${"sw_MB"}%8s ${"spill"}%8s  name")
    val rows = stages.values.toSeq.sortBy(r => -(r.complete - r.submit))
    rows.foreach { r =>
      val ts = taskMs.getOrElse(r.stageId, mutable.ArrayBuffer.empty[Long]).sorted
      val med = if (ts.isEmpty) 0L else ts(ts.size / 2)
      val mx = if (ts.isEmpty) 0L else ts.last
      val wallMs = r.complete - r.submit
      println(f"${r.stageId}%6d ${r.nTasks}%5d $wallMs%8d ${ts.sum}%8d $mx%7d $med%7d ${mb(r.input)} ${mb(r.shufRead)} ${mb(r.shufWrite)} ${mb(r.spill)}  ${r.name.take(80)}")
    }
    val jobWall = jobs.collect { case (_, s, e1) if e1 > 0 => e1 - s }.sum
    println(f"[profile] sum of job walls: ${jobWall / 1000.0}%.3f s (gaps to $wall%.3f s = driver/planning time)")
    spark.stop()
  }
}
