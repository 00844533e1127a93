package graft

import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}
import org.apache.spark.sql.SparkSession

/** Session factory with scale-appropriate defaults.
  *
  * Local mode is a stand-in for a multi-executor cluster: shuffle
  * partitions track core count (not the 200 default), AQE is on so
  * skewed shuffles re-plan at runtime, and the session time zone is
  * pinned to UTC for oracle parity (reference parses dates in local
  * TZ — documented divergence, SURVEY.md §7.2.6).
  *
  * Generated code is compiled once per JVM and then reused: Janino's
  * classes live in one process-wide cache of [[CodegenCacheEntries]]
  * entries. Spark's default of 100 (4 LRU segments) is smaller than
  * one pass of perfbench's 12-query `sql_sf001` set, so a warm pass
  * recompiled most of it (110 of a cold pass's 129 classes at sf0.01,
  * GraftSessionSpec's regime).
  *
  * That cache is keyed on (the compiling thread's context class
  * loader, the source text), so two more settings keep one source to
  * one compile:
  *  - `spark.sql.codegen.useIdInClassName=false`: adaptive execution
  *    numbers `GeneratedIteratorForCodegenStage<N>` in the order its
  *    query stages complete, so the same code would otherwise come
  *    back under a new name and miss.
  *  - in local mode only, [[DriverLoaderPlugin]]: each session's tasks
  *    would run under that session's own executor class loader, so
  *    every whole-stage class compiled once when planning checks it
  *    and once more for its tasks, and again in every new session.
  */
object GraftSession {
  /** Capacity of the codegen class cache
    * (`spark.sql.codegen.cache.maxEntries`): the smallest power of two
    * at least 1.5× the registry's working set. Measured with an
    * unbounded cache on 4 cores, the preload plus one pass of all 220
    * queries fills 1,401 entries at sf0.01, each a distinct source;
    * 1.5 × 1,401 = 2,102, hence 4,096. At sf0.1 the same pass held
    * 1,516 distinct sources before class names lost their stage ids,
    * an upper bound that gives the same power of two. The 1.5× covers
    * the split into 4 LRU segments, each of which evicts at a quarter
    * of the capacity.
    * Metaspace after a warm 220-query pass at sf0.01 read 211.3 MB with
    * 2,350 entries retained against 195.6 MB at the default: about 7 KB
    * a class, so a full cache costs about 29 MB.
    *
    * A static conf: `CodeGenerator`'s initializer reads it once per
    * JVM, at the first compile, from the session active then. Every
    * runner and spec builds its session here before any query runs,
    * and a session built after the first compile cannot resize it. */
  val CodegenCacheEntries = 4096

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      // SQL surface for the native expressions (the ten functions in
      // GraftExtensions.functions); cluster deployments get the same via
      // --conf spark.sql.extensions=graft.functions.GraftExtensions
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Some events.parquet generations carry TIMESTAMP(NANOS), which
      // Spark 4 refuses without this conf; with it they read as raw
      // int64 ns and Tables.normalizeTs converts. Harmless for the
      // timestamp[us] generations (the conf only touches NANOS).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // catalog-managed (e.g. bucketed) tables land under target/, not
      // the repo root; cluster deployments override with their real
      // warehouse path
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/spark-warehouse").getAbsolutePath)
      // the ingest Bloom pre-gate's geometry grows with its ledger
      // (CorpusIngest); the default 2^26-bit clamp caps growth at ~7M
      // entries at 1% fpp — raise to 2^30 bits (128 MiB broadcast at
      // the ceiling, ~750M entries) so regrowth has headroom
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        (1L << 30).toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
    if (sharesDriverJvm(master)) b.config("spark.plugins", classOf[DriverLoaderPlugin].getName)
    else b
  }

  /** `local` and `local[...]` run their executor in the driver's JVM;
    * `local-cluster[...]` and every cluster master do not. */
  def sharesDriverJvm(master: String): Boolean = master.matches("""local(\[.*\])?""")
}

/** Runs each task under the class loader the driver compiles generated
  * code under, so a task finds the driver's classes in the codegen
  * cache instead of compiling them again. Only sound where the executor
  * shares the driver's JVM ([[GraftSession.sharesDriverJvm]]): the
  * driver side records the loader of the thread that builds the
  * session, and the executor side installs it on the task thread. The
  * task then also deserializes its closures under that loader, which
  * sees every class on the application's class path but not jars added
  * to one session at run time; graft adds none.
  * `onTaskStart` runs on the task thread after the executor has set
  * the session's loader, and before the task's RDD is deserialized. */
final class DriverLoaderPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext, ctx: PluginContext): java.util.Map[String, String] = {
      DriverLoaderPlugin.loader = Thread.currentThread.getContextClassLoader
      java.util.Collections.emptyMap()
    }
  }

  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def onTaskStart(): Unit =
      Option(DriverLoaderPlugin.loader).foreach(Thread.currentThread.setContextClassLoader)
  }
}

object DriverLoaderPlugin {
  @volatile private var loader: ClassLoader = _
}
