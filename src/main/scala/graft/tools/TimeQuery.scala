package graft.tools

import graft.{Bench, Caches}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Single-query timing probe: run one registered query N times under
  * the same session/preload regime as [[graft.Bench]] and print each
  * run's wall time, the number of classes codegen compiled during it
  * and the milliseconds Janino spent on them (the timings
  * `CodegenMetrics.METRIC_COMPILATION_TIME` samples, summed; a warm
  * run that still compiles pays Janino on every run) — the
  * tool for chasing warm-vs-cold anomalies in one operator without
  * paying a full bench sweep. It prints the preload seconds first (the
  * bench's `load_s`).
  *
  * Usage: `runMain graft.tools.TimeQuery <query> [runs] [sfDir] [--release]`
  * `--release` drops operator-internal persists between runs (each run
  * then measures a fresh end-to-end execution instead of the shared
  * steady state).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("dedup_simhash")
    val runs = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = args.lift(2).getOrElse(Bench.envSfDir)
    val release = args.contains("--release")
    val (spark, loadS) = Bench.session(sfDir)
    println(f"[timequery] preload: $loadS%.3f s")
    for (i <- 1 to runs) {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ns0 = CodeGenerator.compileTime
      val t = Bench.runOnce(spark, sfDir, name)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val janinoMs = (CodeGenerator.compileTime - ns0) / 1e6
      println(f"[timequery] $name run $i: $t%.3f s, $compiles classes compiled in $janinoMs%.0f ms")
      if (release) Caches.release(spark)
    }
    spark.stop()
  }
}
