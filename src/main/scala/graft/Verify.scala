package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each [[SparkEntry.registry]] record's
  * result → parquet, plus oracle_sql.json, for the driver's DuckDB
  * compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg (local iteration only; the driver passes two):
    // comma-separated query subset; an unregistered name fails the run
    val records = args.lift(2)
      .fold(SparkEntry.registry)(a => SparkEntry.lookup(a.split(",").toSeq))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must surface in the artifact, not just stderr: round 6
    // proved that a swallowed exception makes a broken query *vanish*
    // from CORRECTNESS instead of appearing as an error row. Collect
    // name → message and persist as errors.json next to oracle_sql.json.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    records.foreach { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] ${q.name} failed: $msg")
        errors(q.name) = msg
      } finally Caches.release(spark) // drop operator-internal persists
    }
    // Every control char is escaped (Bench.jstr): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    import Bench.jstr
    val json = SparkEntry.registry
      .map(q => s"${jstr(q.name)}: ${jstr(q.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty {} on an all-green run) so consumers can
    // distinguish "no failures" from "errors.json not produced".
    val errJson = errors
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
