package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance operations for the [[ReplaySafeSink]] standing stores
  * (indexes, corpora, ledgers): one-time LAYOUT MIGRATION from the
  * pre-RunToken era, ongoing small-file COMPACTION, and date-partition
  * EXPIRY for the `d`-leading indexes.
  *
  * Why compaction is needed at all: every micro-batch writes its own
  * `(ingest_run, batch_id)` partition — the partition IS the replay
  * unit (a checkpoint retry dynamically overwrites exactly its own
  * first attempt), so per-batch partitions are not an accident. But at
  * production batch counts the store becomes a small-files field:
  * thousands of directories, each holding a few kilobytes, and every
  * standing-index read pays the listing + footer cost of all of them.
  *
  * Why compaction is SAFE only for runs ≠ the current token — the
  * replay-exclusion contract has two sides, and both break if the
  * live run's partitions are rewritten:
  *
  *  1. WRITE side: a checkpoint retry of batch N replaces its own
  *     first attempt because dynamic overwrite targets exactly the
  *     `(currentToken, N)` partition. Move those rows into a
  *     consolidated partition and the retry's overwrite no longer
  *     removes them — the store ends with BOTH the moved copy and the
  *     retry's write (duplicates).
  *  2. READ side: the retry's [[ReplaySafeSink.standingRows]] probe
  *     excludes `(currentToken, N)` by set-exclusion. Rows moved to a
  *     different run value escape the exclusion, so the retry sees its
  *     own first-attempt signatures as "standing", self-matches, and
  *     drops its whole batch — silent data loss.
  *
  * Runs OTHER than the current token have no live writer (tokens are
  * checkpoint-scoped and a checkpoint has exactly one token) and are
  * never the target of anyone's self-exclusion, so consolidating them
  * under a fresh retired run value changes no probe's visible row set.
  *
  * Rows are treated as a SET during consolidation (exact duplicates
  * collapse): every graft standing-store read is a join / exists /
  * per-key dedup, so duplicate rows affect at most alert multiplicity,
  * and collapsing them is what makes a crashed compaction re-runnable
  * — rerunning always converges to one consolidated copy.
  *
  * Crash ordering (same discipline as the ingests): the consolidated
  * partition is APPENDED first, the source partitions deleted after. A
  * crash in between leaves transient duplicates, which the next
  * compaction (or any read, per the set semantics above) absorbs —
  * never a window where rows are missing. */
object IndexMaintenance {

  /** Retired run value for migrated pre-RunToken rows. Contains
    * non-hex characters, so it can never collide with a minted token
    * (12 hex chars of a UUID). batch_id -1 likewise never collides
    * with a foreachBatch id (those start at 0). */
  val MigrationRun = "premigration"

  /** Fresh retired run value per compaction generation — the `compact`
    * prefix has non-hex characters, so no collision with live tokens,
    * and the random suffix keeps each generation distinct from the
    * previous one (a compaction CONSUMES prior compact partitions, and
    * reading and dynamically overwriting the same partition in one job
    * is not safe — write forward, then delete). */
  private def freshCompactRun(): String =
    "compact" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def dataFiles(fs: FileSystem, root: Path): Seq[Path] = {
    if (!fs.exists(root)) return Nil
    val out = Seq.newBuilder[Path]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) out += f
    }
    out.result()
  }

  /** The `k=v` partition-directory levels between `root` and a data
    * file, in order — how both ops recover a store's partition scheme
    * (e.g. `d, ingest_run, batch_id`) without being told it. */
  private def partitionLevels(root: Path, file: Path): Seq[String] = {
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val rel = file.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
    rel.split('/').dropRight(1).toSeq
      .filter(_.contains('=')).map(_.takeWhile(_ != '='))
  }

  /** Delete every `ingest_run=<run>` directory under `root`, at any
    * leading-partition depth. Returns the number deleted. */
  private def deleteRunDirs(fs: FileSystem, root: Path, runs: Set[String]): Int = {
    var n = 0
    def walk(p: Path): Unit =
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath).foreach { d =>
        val name = d.getName
        if (name.startsWith("ingest_run=")) {
          if (runs.contains(name.stripPrefix("ingest_run="))) { fs.delete(d, true); n += 1 }
        } else if (!name.startsWith(".") && !name.startsWith("_")) walk(d)
      }
    walk(root)
    n
  }

  /** One-time migration of a pre-round-12 store (partitioned by bare
    * `d`/`batch_id`, or plain appends) into the [[RunToken]] layout:
    * legacy rows are rewritten under the retired
    * `(ingest_run=premigration, batch_id=-1)` partition — visible to
    * every probe (it can never equal a live (token, batchId) pair),
    * invisible to every retry overwrite — and the legacy files are
    * then deleted, so partition discovery sees one layout again.
    *
    * Idempotent under crashes: a prior torn migration's premigration
    * partition is dropped before the rewrite (its source files, by
    * write-first ordering, still exist), so re-running converges.
    * Returns the number of legacy data files migrated. Run this with
    * the ingest STOPPED — migration rewrites history, and a concurrent
    * standingRows would fail on the mixed layout anyway (by design,
    * with this method named in the error). */
  def migrateLegacyIndex(spark: SparkSession, dir: String): Int = {
    val (fs, root) = fsOf(spark, dir)
    val legacy = dataFiles(fs, root).filterNot(_.toString.contains("/ingest_run="))
    if (legacy.isEmpty) return 0
    // a torn earlier migration wrote some of these rows already; its
    // partition is wholly rebuildable from the still-present legacy
    // files, so drop and rewrite rather than dedup against it
    deleteRunDirs(fs, root, Set(MigrationRun))
    val leading = partitionLevels(root, legacy.head)
    val df = spark.read.option("basePath", dir)
      .parquet(legacy.map(_.toString): _*)
    df.withColumn("ingest_run", lit(MigrationRun))
      .withColumn("batch_id", lit(-1L))
      .write.mode(SaveMode.Append)
      .partitionBy(leading ++ Seq("ingest_run", "batch_id"): _*)
      .parquet(dir)
    legacy.foreach(f => fs.delete(f, false))
    legacy.size
  }

  /** Consolidate every RETIRED run (ingest_run ≠ `currentToken`) of a
    * RunToken-layout store into one fresh `compact<gen>` partition per
    * leading-partition value, then delete the source run directories.
    * Pass `currentToken = None` only when NO ingest is live on the
    * store (a decommissioned stream) — then everything consolidates.
    *
    * Preserves the replay contract by construction (see the object
    * doc): probe row-sets are identical before and after, and the
    * live run's partitions — the only ones a retry overwrites or
    * self-excludes — are untouched. Leading partition levels (e.g. the
    * `d` date that retention prunes on) are preserved, so
    * [[expireIndex]] and watermark partition pruning are
    * unchanged. Returns the number of (run, batch) partitions
    * consolidated away (0 ⇔ nothing to do — fewer than two retired
    * partitions is churn, not compaction). */
  def compactIndex(spark: SparkSession, dir: String,
                   currentToken: Option[String]): Int =
    compactWhere(spark, dir,
      live = { case (run, _) => currentToken.contains(run) })

  /** Compaction for a RUNNING ingest — the auto-cadence form. Keeps
    * exactly the current `(token, batchId)` partition live and
    * consolidates everything else, INCLUDING the live run's own
    * earlier batches. Replay-safe by the sink's own contract:
    * foreachBatch(b) runs only after batch b−1 committed, so the only
    * possible retry is of batch b itself — its standing-state probe
    * excludes only `(token, b)` (set-exclusion, [[ReplaySafeSink
    * .standingRows]]), which the compactor never reads or deletes, and
    * its dynamic overwrite replaces only that same partition. Rows
    * moved into a `compact<gen>` run stay visible to the retry
    * exactly as their originals were. A crash DURING compaction
    * leaves duplicates (write-then-delete), which the next
    * compaction's set semantics absorb and which the ledger-style
    * anti-join probes tolerate meanwhile. */
  def compactIndexLive(spark: SparkSession, dir: String,
                       token: String, batchId: Long): Int =
    compactWhere(spark, dir,
      live = { case (run, b) => run == token && b == batchId.toString })

  /** Cadence policy for the foreachBatch sinks: compact every
    * `everyBatches` batches (default 32 — the 100M crawl-ledger
    * measurement put payback at ~25 batches: compaction cost ≈ 45 s
    * vs ~1.8 s/batch standing-probe savings, BIGBENCH.md round 14).
    * Runs AFTER the batch's own writes, synchronously in the
    * foreachBatch body, so a retry can never overlap the compactor.
    * Returns partitions consolidated (0 = off-cadence call). */
  def autoCompact(spark: SparkSession, dir: String, token: String,
                  batchId: Long, everyBatches: Int = 32): Int =
    if (batchId > 0 && batchId % everyBatches == 0)
      compactIndexLive(spark, dir, token, batchId)
    else 0

  /** Plain-append ledger compaction — [[CorpusIngest]]'s exact-hash
    * ledger is an append-only hash column with SET semantics (every
    * reader is an anti-join or a Bloom rebuild), not a RunToken
    * store, so its hygiene pass is file consolidation: read the
    * current data files, rewrite the set as a bounded file count,
    * delete exactly the consumed originals. Write-forward-then-delete
    * like [[compactIndexLive]]: a crash between the two leaves
    * duplicate hashes, which set semantics absorb (and the next
    * pass's dropDuplicates converges). Safe inside a batch body: it
    * runs synchronously AFTER the batch's ledger append, and a retry
    * of that batch reads the same hash SET whatever the file layout.
    * Returns files consumed (0 below `minFiles` — consolidating a
    * small ledger is churn, not compaction). */
  def compactPlainLedger(spark: SparkSession, dir: String,
                         minFiles: Int = 64): Int = {
    val (fs, root) = fsOf(spark, dir)
    val files = dataFiles(fs, root)
    if (files.size < minFiles) return 0
    spark.read.parquet(files.map(_.toString): _*)
      .dropDuplicates()
      .coalesce(8)
      .write.mode(SaveMode.Append).parquet(dir)
    files.foreach(f => fs.delete(f, false))
    files.size
  }

  /** [[autoCompact]]'s cadence, plain-append-ledger form. */
  def autoCompactPlain(spark: SparkSession, dir: String, batchId: Long,
                       everyBatches: Int = 32, minFiles: Int = 64): Int =
    if (batchId > 0 && batchId % everyBatches == 0)
      compactPlainLedger(spark, dir, minFiles)
    else 0

  /** Drop the `d`-leading date partitions of an index entirely BEFORE
    * `cutoff` — the retention pass the date-partitioned layout exists
    * for: expiry is a directory delete, no rewrite, no scan. Safe at any
    * time relative to the probe: [[ReplaySafeBatch]] reads only the
    * watermark horizon, so partitions at least a full horizon older
    * than the live stream can never be probed again. Returns the number
    * of partitions dropped. */
  def expireIndex(spark: SparkSession, indexDir: String,
                  cutoff: java.time.LocalDate): Int = {
    val (fs, p) = fsOf(spark, indexDir)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("d="))
      .filter(d => java.time.LocalDate.parse(d.getName.stripPrefix("d="))
        .isBefore(cutoff))
      .count { d => fs.delete(d, true); true }
  }

  private def compactWhere(spark: SparkSession, dir: String,
                           live: ((String, String)) => Boolean): Int = {
    val (fs, root) = fsOf(spark, dir)
    val files = dataFiles(fs, root)
    if (files.isEmpty) return 0
    files.find(!_.toString.contains("/ingest_run=")).foreach { f =>
      throw new IllegalStateException(
        s"$dir holds pre-RunToken data (e.g. $f) — run migrateLegacyIndex first.")
    }
    def runOf(f: Path): String = f.toString
      .split('/').find(_.startsWith("ingest_run=")).get.stripPrefix("ingest_run=")
    def runBatchOf(f: Path): (String, String) = (runOf(f), f.toString
      .split('/').find(_.startsWith("batch_id=")).get.stripPrefix("batch_id="))
    val retired = files.filterNot(f => live(runBatchOf(f)))
    val retiredParts = retired.map(runBatchOf).distinct
    if (retiredParts.size < 2) return 0
    val leading = partitionLevels(root, retired.head).takeWhile(_ != "ingest_run")
    val target = freshCompactRun()
    // read ONLY the retired files (explicit list + basePath recovers
    // the partition columns) — never the live run's partitions
    val rows = spark.read.option("basePath", dir)
      .parquet(retired.map(_.toString): _*)
      .drop("ingest_run", "batch_id")
      .dropDuplicates() // set semantics; makes crashed re-runs converge
    rows.withColumn("ingest_run", lit(target))
      .withColumn("batch_id", lit(0L))
      .write.mode(SaveMode.Append)
      .partitionBy(leading ++ Seq("ingest_run", "batch_id"): _*)
      .parquet(dir)
    // delete AFTER the consolidated write lands: a crash between the
    // two leaves duplicates (absorbed by set semantics), never a gap.
    // Batch-granular (not whole-run): under live compaction the
    // current run keeps its newest batch partition.
    deleteRunBatchDirs(fs, root, retiredParts.toSet)
    retiredParts.size
  }

  /** Delete exactly the `ingest_run=<run>/batch_id=<b>` partition dirs
    * in `parts` (at any leading depth), then any run dir left empty.
    * Returns the number of batch partitions deleted. */
  private def deleteRunBatchDirs(fs: FileSystem, root: Path,
                                 parts: Set[(String, String)]): Int = {
    var n = 0
    def walk(p: Path): Unit =
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath).foreach { d =>
        val name = d.getName
        if (name.startsWith("ingest_run=")) {
          val run = name.stripPrefix("ingest_run=")
          fs.listStatus(d).filter(_.isDirectory).map(_.getPath).foreach { bd =>
            val bn = bd.getName
            if (bn.startsWith("batch_id=") &&
                parts.contains((run, bn.stripPrefix("batch_id=")))) {
              fs.delete(bd, true); n += 1
            }
          }
          if (fs.listStatus(d).isEmpty) fs.delete(d, true)
        } else if (!name.startsWith(".") && !name.startsWith("_")) walk(d)
      }
    walk(root)
    n
  }

  /** [[compactIndex]] with the live token read from the ingest's
    * checkpoint — the form a running deployment calls. */
  def compactIndex(spark: SparkSession, dir: String, checkpointDir: String): Int =
    compactIndex(spark, dir, Some(RunToken.of(spark, checkpointDir)))
}
