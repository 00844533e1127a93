package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The shared REPLAY-SAFE SINK recipe behind every foreachBatch ingest
  * here ([[NearDupIngest]], [[LeakageIngest]], [[PhashIngest]],
  * [[CorpusIngest]]'s corpus sink): dynamic-overwrite writes scoped to
  * ([[RunToken]], batch_id) partitions, and standing-state reads that
  * exclude exactly the current batch's own partition. One
  * implementation — a drift in the exclusion predicate or the
  * partition ordering in ONE ingest would silently break its replay
  * idempotence while the others stay correct. */
object ReplaySafeSink {

  /** Does `dir` exist AND contain at least one parquet data file? A
    * fully-expired index (every retention partition dropped) leaves an
    * empty directory, which must read as "no standing rows", never as
    * a read error. */
  def hasParquetData(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) false
    else {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
  }

  /** Dirs whose layout has been verified RunToken-clean this process.
    * Legacy files cannot APPEAR in a clean dir (every live writer
    * partitions by ingest_run), so one successful check per dir per
    * JVM is sound — without the memo, standingRows would pay a full
    * recursive listing EVERY micro-batch on top of the read's own
    * listing, doubling the small-files cost the compaction op exists
    * to bound. */
  private val verifiedLayouts = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Pre-round-12 sinks partitioned by bare `d`/`batch_id` (or plain
    * append); the RunToken layout adds `(ingest_run, batch_id)` levels.
    * Mixing the two under one dir puts data files at different depths,
    * which Spark partition discovery rejects with an opaque
    * "Conflicting directory structures" — and because standingRows runs
    * every micro-batch, the ingest then poison-retries forever. Detect
    * the legacy files up front (once per dir per process) and name the
    * remedy instead. */
  private def requireRunTokenLayout(spark: SparkSession, dir: String): Unit = {
    if (verifiedLayouts.contains(dir)) return
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet") && !f.toString.contains("/ingest_run="))
        throw new IllegalStateException(
          s"Standing index at $dir contains pre-RunToken data files (no ingest_run= " +
          s"partition level), e.g. $f. Mixing layouts fails Spark partition discovery. " +
          "Migrate once with graft.streaming.IndexMaintenance.migrateLegacyIndex(spark, dir) " +
          "(rewrites legacy rows under a retired ingest_run partition), or point the " +
          "ingest at a fresh index dir and backfill.")
    }
    verifiedLayouts.add(dir)
  }

  /** The standing-state read for a retry of (token, batchId): every
    * row EXCEPT the batch's own first-attempt partition — a retry must
    * see exactly the pre-batch state. Set-exclusion, not `batch_id <
    * N` ordering: a fresh-checkpoint incarnation restarts batchId at 0
    * and an ordering filter would exclude the whole standing index
    * (see [[RunToken]]). None ⇔ no data yet (the expected cold
    * start). Callers layer their own horizon filter on top. `schema`
    * is the store's row schema without the run/batch levels; given, the
    * read skips parquet schema inference, a job on every call. */
  def standingRows(spark: SparkSession, dir: String, token: String, batchId: Long,
                   schema: Option[StructType] = None): Option[DataFrame] =
    if (!hasParquetData(spark, dir)) None
    else {
      requireRunTokenLayout(spark, dir)
      val reader = schema.fold(spark.read)(s => spark.read.schema(
        s.add("ingest_run", StringType).add("batch_id", LongType)))
      Some(reader.parquet(dir).filter(
        !(col("ingest_run") === lit(token) && col("batch_id") === lit(batchId))))
    }

  /** Write `df` as the (token, batchId) partition of `dir` via dynamic
    * partition overwrite — a retry replaces exactly its own first
    * attempt. `leading` prepends partition columns that must stay
    * OUTERMOST (e.g. the date column retention prunes on). */
  def writeBatch(df: DataFrame, dir: String, token: String, batchId: Long,
                 leading: Seq[String] = Nil): Unit = {
    df.withColumn("ingest_run", lit(token))
      .withColumn("batch_id", lit(batchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(leading ++ Seq("ingest_run", "batch_id"): _*)
      .parquet(dir)
  }
}

/** Checkpoint-scoped RUN TOKEN for the replay-safe ingest sinks.
  *
  * `foreachBatch`'s batchId is unique and monotonic only WITHIN one
  * checkpoint: a query restarted against a fresh checkpoint (the
  * "checkpoints are disposable, the lake is the source of truth"
  * operational pattern) counts from 0 again, so partitioning a sink by
  * bare `batch_id` lets incarnation 2's batch 0 dynamically OVERWRITE
  * incarnation 1's batch-0 partition — silent data loss — and an
  * ordering probe filter like `batch_id < 0` excludes the whole
  * standing index, silently missing every cross-incarnation duplicate.
  *
  * The token pins partitions to the checkpoint instead: sinks
  * partition by `(ingest_run, batch_id)`, and probes exclude exactly
  * the current `(token, batchId)` pair — the only rows that must be
  * invisible to a retry are the retry's own first attempt, and
  * set-exclusion needs no ordering across incarnations. The token
  * lives in a sidecar file INSIDE the checkpoint directory, so a
  * JVM-restart retry of the same checkpoint reads the same token and
  * overwrites its own partitions, while a fresh checkpoint mints a
  * fresh token and can never collide with history. */
object RunToken {
  def of(spark: SparkSession, checkpointDir: String): String = {
    val p = new Path(s"$checkpointDir/_graft_run_token")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def read(): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    }
    if (fs.exists(p)) read()
    else {
      val t = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      // tmp name carries the candidate token: two concurrent minters
      // (already operator error, but be safe) write DISJOINT tmp
      // files, so a lost rename race can never publish torn bytes —
      // the loser's read() below adopts the winner's complete token.
      val tmp = new Path(p.getParent, s".${p.getName}.$t.tmp")
      val out = fs.create(tmp, true)
      try out.write(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // rename is atomic on HDFS-like stores; losing the race (two
      // writers on one checkpoint is already operator error, but be
      // safe) means adopting the winner's token
      if (fs.rename(tmp, p)) t else read()
    }
  }
}
