package perfbench

import graft.{Caches, GraftSession, SparkEntry, Tables}
import graft.streaming.CorpusIngest
import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed operation: a registered query built by `SparkEntry.queries`
  * and executed through the `noop` sink, or one streaming ingest. */
final case class OpRec(op: String, wall_s: Double, build_s: Double,
                       registered: Int, release_s: Double, leaked_rdds: Int,
                       error: Option[String])

/** One pass over a workload: every operation once. `kind` is `cold`
  * (the fresh session's first), `warmup` (run, not measured),
  * `measured` or `traced`. */
final case class PassRec(kind: String, ops: Seq[OpRec],
                         batches: Seq[Batch], layers: Map[String, Double],
                         counts: Map[String, Long]) {
  def wall_s: Double = ops.map(_.wall_s).sum
}

final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, out: String, cores: Int)

/** The operations one pass runs, and the fewest measured passes. */
final case class Workload(ops: Seq[String], minPasses: Int)

/** Runs one workload in this JVM and writes the raw record (setup
  * samples, per-pass operation walls, traced layer counters, outputs
  * to check) as JSON; `perfbench/run.py` turns it into metrics.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE --cores C` */
object Main {
  /** The name of the streaming ledger ingest in a workload's op list. */
  val Ingest = "ingest_ledger"

  val workloads: Map[String, Workload] = Map(
    "sql_sf001" -> Workload(Seq("q1_join_avg", "q2_filter_sort", "q3_subquery_desc",
      "join_equi", "join_theta", "sort_asc", "sort_topn", "tpch_q1_pricing",
      "tpch_q3_shipping", "tpch_q5_local", "tpch_q9_profit", "tpch_q18_big_orders"),
      minPasses = 2),
    "corpus_ingest" -> Workload(Seq("doc_decontaminate", Ingest), minPasses = 1))

  /** Set-ups per run: the first is cold and the slowest, so the median
    * is the mean of the middle two warm ones. */
  val Setups = 4

  /** Unmeasured passes between the cold pass and the measured ones. */
  val Warmups = 1

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("out"), kv("cores").toInt)
    require(workloads.contains(c.workload), s"unknown workload ${c.workload}")
    val record = new Run(c).record()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(c.out), record)
  }
}

class Run(c: Conf) {
  private val mb = 1024.0 * 1024.0
  private val workload = Main.workloads(c.workload)
  private val ops = workload.ops
  private val queries = ops.filterNot(_ == Main.Ingest)
  // the SQL floor runs over preloaded tables; the corpus is read from parquet
  private val preload = !ops.contains(Main.Ingest)

  private var spark: SparkSession = _
  private var baselineRdds = 0
  @volatile private var peakMb = 0.0

  private def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / mb

  private def samplePeak(): Unit = {
    val now = storageMb()
    synchronized { if (now > peakMb) peakMb = now }
  }

  private def secs(t0: Long, t1: Long) = (t1 - t0) / 1e9

  /** Builds the session (and, for the SQL floor, preloads the tables)
    * `Main.Setups` times; the last session is the one measured. The
    * previous session's garbage is collected before the timer starts. */
  private def setup(): Seq[Map[String, Double]] = (0 until Main.Setups).map { _ =>
    if (spark != null) { Tables.clearPreload(spark); spark.stop() }
    System.gc()
    val t0 = System.nanoTime()
    spark = GraftSession.builder(s"local[${c.cores}]", c.cores).getOrCreate()
    val t1 = System.nanoTime()
    spark.sparkContext.setLogLevel("ERROR")
    if (preload) Tables.preload(spark, c.data, except = Set("documents", "embeddings"))
    val t2 = System.nanoTime()
    Map("session_s" -> secs(t0, t1), "preload_s" -> secs(t1, t2),
      "cached_mb" -> storageMb())
  }

  /** Releases operator caches and reports (registrations made, release
    * time, persistent RDDs still listed beyond the preloaded tables). */
  private def release(): (Int, Double, Int) = {
    val registered = Caches.registered(spark)
    val t0 = System.nanoTime()
    Caches.release(spark)
    val t1 = System.nanoTime()
    (registered, secs(t0, t1), spark.sparkContext.getPersistentRDDs.size - baselineRdds)
  }

  /** Runs before every timed operation, traced or not, outside the
    * timer: the previous operation's listener-bus work finishes first,
    * then the probe, if any, forgets what it has seen. */
  private def clear(probe: Option[Probe]): Unit = {
    BusDrain(spark.sparkContext)
    probe.foreach { p => p.take(0, 0, 0); p.takeBatches() }
  }

  private type OpResult = (OpRec, Option[OpWindow], Seq[Batch], Map[String, Long])

  private def runQuery(op: String, probe: Option[Probe]): OpResult = {
    clear(probe)
    val lo = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(op)(spark, c.data)
      val t1 = System.nanoTime()
      val built = System.currentTimeMillis()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val hi = System.currentTimeMillis()
      samplePeak()
      val window = probe.map { p => BusDrain(spark.sparkContext); p.take(lo, built, hi) }
      val (reg, rel, leaked) = release()
      (OpRec(op, secs(t0, t2), secs(t0, t1), reg, rel, leaked, None), window, Nil, Map.empty)
    } catch {
      case NonFatal(e) =>
        Caches.release(spark)
        (OpRec(op, secs(t0, System.nanoTime()), 0, 0, 0, 0, Some(e.toString)), None, Nil,
          Map.empty)
    }
  }

  private lazy val docSchema =
    spark.read.parquet(s"${c.data}/documents.parquet").schema

  private def count(dir: String): Long =
    if (new java.io.File(dir).exists()) spark.read.parquet(dir).count() else -1L

  /** Streams the part files one per trigger through the ledger ingest
    * into fresh ledger, corpus and checkpoint directories. */
  private def ingest(pass: Int, probe: Option[Probe]): OpResult = {
    val base = new java.io.File(s"${c.work}/ingest/$pass")
    org.apache.commons.io.FileUtils.deleteDirectory(base)
    val stream = spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1)
      .parquet(s"${c.data}/documents.parquet")
    clear(probe)
    val lo = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = CorpusIngest.ingestWithLedger(stream, s"$base/ledger", s"$base/out", s"$base/ckpt")
    val t1 = System.nanoTime()
    val built = System.currentTimeMillis()
    val error =
      try { q.processAllAvailable(); None }
      catch { case NonFatal(e) => Some(e.toString) }
    val t2 = System.nanoTime()
    val hi = System.currentTimeMillis()
    val progress = q.recentProgress.toSeq
    q.stop()
    val window = probe.map { p => BusDrain(spark.sparkContext); p.take(lo, built, hi) }
    val batches = probe.map(_.takeBatches()).getOrElse(Batch.ofAll(progress))
    val (reg, rel, leaked) = release()
    val counts = Map("input_rows" -> batches.map(_.rows).sum,
      "ledger_rows" -> count(s"$base/ledger"), "corpus_rows" -> count(s"$base/out"))
    (OpRec(Main.Ingest, secs(t0, t2), secs(t0, t1), reg, rel, leaked, error),
      window, batches, counts)
  }

  private def pass(n: Int, kind: String, probe: Option[Probe]): PassRec = {
    val runs = order(n).map(op => if (op == Main.Ingest) ingest(n, probe) else runQuery(op, probe))
    val batches = runs.flatMap(_._3)
    val layers = probe.map(_ => Layers.summarize(runs.flatMap(_._2), c.cores) ++
      Layers.ingest(batches))
    PassRec(kind, runs.map(_._1), batches, layers.getOrElse(Map.empty),
      runs.flatMap(_._4).toMap)
  }

  /** The SQL floor shuffles its query order every pass (seeded); the
    * corpus pipeline keeps its fixed order, ingest last. */
  private def order(n: Int): Seq[String] =
    if (preload) new scala.util.Random(c.seed * 1000003L + n).shuffle(ops) else ops

  private def withProbe[T](traced: Boolean)(f: Option[Probe] => T): T =
    if (!traced) f(None)
    else {
      val p = new Probe
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      spark.streams.addListener(p.streams)
      try f(Some(p))
      finally {
        BusDrain(spark.sparkContext)
        spark.streams.removeListener(p.streams)
        spark.listenerManager.unregister(p)
        spark.sparkContext.removeSparkListener(p)
      }
    }

  /** Writes every query's output for the checks: untimed, after the
    * measured passes, several queries at a time. */
  private def dumpOutputs(): Map[String, String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val dumps = queries.map { op =>
      scala.concurrent.Future {
        try {
          SparkEntry.queries(op)(spark, c.data).write.mode("overwrite")
            .parquet(s"${c.work}/check/$op")
          op -> "ok"
        } catch { case NonFatal(e) => op -> e.toString }
      }
    }
    try scala.concurrent.Await.result(scala.concurrent.Future.sequence(dumps),
      scala.concurrent.duration.Duration.Inf).toMap
    finally { pool.shutdown(); Caches.release(spark) }
  }

  def record(): Map[String, Any] = {
    val tSetup = System.nanoTime()
    val setups = setup()
    baselineRdds = spark.sparkContext.getPersistentRDDs.size
    // The ingest's persists live only inside a micro-batch, so where a
    // workload ingests, a thread also samples storage every 25 ms; the
    // SQL floor's peak is caught at its operation boundaries.
    val poller = if (preload) None else Some(new Thread(() => {
      try while (true) { samplePeak(); Thread.sleep(25) }
      catch { case _: InterruptedException => () }
    }))
    poller.foreach { t => t.setDaemon(true); t.start() }
    val tCold = System.nanoTime()
    val passes = ArrayBuffer(pass(0, "cold", None))
    // JIT compilation still speeds every pass up for the first few;
    // warm-up passes run through most of that drift unmeasured
    (1 to Main.Warmups).foreach(n => passes += pass(n, "warmup", None))
    // Measured passes: whole passes, at least `minPasses`, until the
    // time is spent. A traced run alternates untraced and traced
    // passes, at least untraced, traced, untraced, so its overhead
    // compares walls of one session on both sides of the traced pass.
    val t0 = System.nanoTime()
    val minPasses = if (c.trace) math.max(3, workload.minPasses) else workload.minPasses
    var m = 0
    while (m < minPasses || secs(t0, System.nanoTime()) < c.seconds) {
      val traced = c.trace && m % 2 == 1
      passes += withProbe(traced)(pass(passes.size, if (traced) "traced" else "measured", _))
      m += 1
    }
    poller.foreach { t => t.interrupt(); t.join() }
    val tDump = System.nanoTime()
    val outputs = dumpOutputs()
    val phases = Map("setup_s" -> secs(tSetup, tCold), "cold_warmup_s" -> secs(tCold, t0),
      "measured_s" -> secs(t0, tDump), "outputs_s" -> secs(tDump, System.nanoTime()))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    val out = Map(
      "provenance" -> Map("spark" -> spark.version,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "scala" -> scala.util.Properties.versionNumberString,
        "cores" -> c.cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / mb),
      "setup" -> setups, "passes" -> passes.map(p =>
        Map("kind" -> p.kind, "wall_s" -> p.wall_s, "ops" -> p.ops,
          "batches" -> p.batches, "layers" -> p.layers, "counts" -> p.counts)),
      "cached_mb_peak" -> peakMb, "baseline_rdds" -> baselineRdds,
      "phases" -> phases, "outputs" -> outputs, "check_dir" -> s"${c.work}/check",
      "oracle" -> oracle)
    spark.stop()
    out
  }
}
