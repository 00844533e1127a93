package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import ReplaySafeBatch.step

/** Corpus-lake ingest with a persistent exact-dedup LEDGER, via
  * `foreachBatch` — the third dedup horizon:
  *
  *  - in-batch: `dropDuplicates` inside the micro-batch;
  *  - within-watermark: [[EventStream.dedupStream]] — state bounded by
  *    event-time lateness, duplicates beyond it pass;
  *  - UNBOUNDED: this ledger — a duplicate arriving months later (or
  *    after a restart, or from a different stream) is still dropped,
  *    because the seen-hash set lives in storage, not in stream state.
  *
  * Each micro-batch: hash text (md5 — content-keyed like the batch
  * dedup operators), drop in-batch dups, LEFT ANTI join the ledger,
  * append the survivors to the corpus and their hashes to the ledger.
  * `foreachBatch` is the right tool because the body needs batch-only
  * operations (reading back the ledger directory) per micro-batch.
  *
  * Scale shape — the BLOOM PRE-GATE: the anti join's ledger side is
  * the unbounded corpus history, and a plain anti join shuffles it
  * every micro-batch. Instead the batch probes a Bloom filter over the
  * ledger hashes and splits: rows the filter rejects are DEFINITELY
  * novel (Bloom has no false negatives) and skip the join; only
  * probable hits — bounded by true dups + fpp·batch — reach the exact
  * anti join. Exactness is preserved: the filter only prunes the
  * join's input, never decides membership.
  *
  * ONE PASS PER BATCH: a steady batch runs three SQL executions — the
  * batch pass, the corpus write and the ledger append. The batch pass
  * is one aggregate over the persisted, probe-flagged batch: it
  * materializes the cache, counts the probable hits and builds the
  * batch's filter over EVERY batch hash. Building over all hashes
  * rather than only the novel ones sets no extra bit: a hash the anti
  * join drops is already in the ledger, hence (superset invariant)
  * already in the standing filter, so the merged filter is exactly
  * the filter of the ledger's hashes.
  *
  * The filter is MAINTAINED INCREMENTALLY, not rebuilt: it lives at
  * `<ledger>/_bloom/filter.bf` (underscore-hidden, so the parquet
  * reader never sees it), each batch merges its filter into it
  * (`mergeInPlace` — merging requires identical geometry), so
  * per-batch filter cost is O(batch), independent of ledger size.
  *
  * The GEOMETRY GROWS with the ledger. `bloomCapacity` only seeds the
  * first filter, and the default seed is small (2^16 entries, 77 KiB
  * at fpp 0.01): every batch reads, broadcasts, merges and rewrites
  * the whole filter, so an oversized seed is paid on every batch. The
  * effective capacity lives in a `_bloom/capacity` sidecar. SATURATION
  * is read off the standing filter itself — its expected fpp (from
  * the share of set bits) above the target `bloomFpp` — so a steady
  * batch never scans the ledger for a count. A saturated filter
  * rebuilds from the ledger at max(4× capacity, 2× ledger rows), the
  * only time the ledger is counted; rebuild cost is amortized
  * O(ledger) over the ledger's lifetime (vector-growth argument).
  * Without regrowth a standing guard's fpp drifts toward 1 as the
  * corpus outgrows a fixed capacity and the pre-gate silently stops
  * pruning. Spark's aggregate clamps the bits at
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`; once a
  * filter holds that many bits a rebuild cannot grow it, so a
  * saturated filter at the clamp stays incremental (it prunes less,
  * the anti join keeps the answer exact) instead of rescanning the
  * ledger every batch.
  *
  * WRITE ORDER IS LOAD-BEARING: corpus → filter → capacity → ledger,
  * so a crash anywhere leaves the filter a SUPERSET of the ledger —
  * supersets cost false positives (safe); a subset would hand out
  * false "definitely novel" verdicts and admit duplicates. A missing
  * filter file (first batch after an upgrade, manual deletion) falls
  * back to one rebuild scan of the ledger — same geometry, so later
  * merges stay compatible.
  *
  * Failure honesty: a MISSING ledger directory is the expected first
  * batch (empty ledger); any OTHER read failure (IO error, corrupt
  * footer/filter) propagates and fails the micro-batch so the
  * checkpoint retries it — silently substituting an empty ledger
  * would disable dedup for the batch and admit duplicates permanently.
  *
  * Replay safety (round 12): the corpus sink is partitioned by
  * ([[RunToken]], batch_id) and written with dynamic partition
  * OVERWRITE (the [[LeakageIngest]] recipe), so a checkpoint retry
  * anywhere in the corpus → filter → ledger sequence reproduces, not
  * duplicates: a retry before the ledger append recomputes the SAME
  * novel set (the ledger is unchanged) and overwrites its own corpus
  * partition; a retry after it finds every batch hash in the ledger,
  * derives an empty novel set, and writes nothing. The checkpoint-
  * scoped token keeps a fresh-checkpoint incarnation (batchId back at
  * 0) from clobbering an earlier incarnation's partitions. The filter
  * only ever grows toward a superset — supersets cost false
  * positives, which the exact anti join absorbs. */
object CorpusIngest {

  /** Rows the Bloom pre-gate sent into the exact anti join in the most
    * recent micro-batch (-1 before any batch) — observability/spec
    * hook for the gate's selectivity. */
  val lastProbedRows = new AtomicLong(-1L)

  /** How the last batch obtained its pre-gate filter: "first-batch"
    * (no ledger), "incremental" (persisted filter file), "rebuilt"
    * (fallback ledger scan) or "regrown" (saturated filter, or a
    * geometry mismatch healed, rebuilt from the ledger). */
  val lastFilterSource = new AtomicReference[String]("unset")

  private def bloomPath(ledgerDir: String) = new Path(s"$ledgerDir/_bloom/filter.bf")

  /** The ledger's one column; reading it with the schema given skips
    * the footer-reading schema job on every batch. */
  private val ledgerSchema = "h STRING"

  def ingestWithLedger(docs: DataFrame, ledgerDir: String, outDir: String,
                       checkpointDir: String, bloomFpp: Double = 0.01,
                       bloomCapacity: Long = 1L << 16): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val sc = spark.sparkContext
        val hashed = batch
          .withColumn("h", md5(col("text").cast("binary")))
          .dropDuplicates("h")
        val ledgerPath = new Path(ledgerDir)
        val fs = ledgerPath.getFileSystem(spark.sessionState.newHadoopConf())
        def readLedger(): DataFrame = spark.read.schema(ledgerSchema).parquet(ledgerDir)
        // ONE filter-construction path (the distributed aggregate) with
        // ONE explicit geometry: Spark's aggregate clamps numBits at
        // maxNumBits and derives its hash count differently from
        // BloomFilter.create, so mixing paths (or letting fpp size the
        // bits implicitly) produces filters mergeInPlace refuses. A
        // filter file written under a DIFFERENT conf clamp fails the
        // merge; the self-heal below rebuilds instead of wedging the
        // batch.
        val maxNumBits =
          spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
        def numBitsFor(cap: Long): Long = math.min(
          math.ceil(-cap * math.log(bloomFpp) / (math.log(2) * math.log(2))).toLong,
          maxNumBits)
        def ledgerFilter(ledgerH: DataFrame, cap: Long): BloomFilter =
          ledgerH.stat.bloomFilter("h", cap, numBitsFor(cap))
        val capPath = new Path(s"$ledgerDir/_bloom/capacity")
        def readCapacity(): Long =
          if (!fs.exists(capPath)) bloomCapacity
          else {
            val in = fs.open(capPath)
            try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8).trim.toLong
            finally in.close()
          }
        var effCapacity = bloomCapacity
        val toRelease = scala.collection.mutable.ListBuffer.empty[DataFrame]
        // the batch pass: persist the batch frame and run ONE aggregate
        // over it — it materializes the cache, counts the probable hits
        // and builds the batch filter over every batch hash (the same
        // aggregate stat.bloomFilter runs, so the filters merge). Null
        // filter bytes mean the batch held no hash.
        def batchPass(frame: DataFrame, probable: Column): (Long, Option[BloomFilter]) = {
          frame.persist(); toRelease += frame
          val bloomAgg = new BloomFilterAggregate(ColumnBridge.expression(col("h")),
            Literal(effCapacity), Literal(numBitsFor(effCapacity)))
          val row = step(spark, "ledger: batch pass") {
            frame.agg(count_if(probable),
              ColumnBridge.column(bloomAgg.toAggregateExpression())).head()
          }
          (row.getLong(0), Option(row.getAs[Array[Byte]](1)).map(BloomFilter.readFrom))
        }
        try {
          // `novel` lives until the corpus/ledger writes complete: it
          // must be CONSISTENT between its two reads (recomputation
          // against a just-updated ledger would see its own writes)
          val (novel, standing, batchFilter) =
            if (!fs.exists(ledgerPath)) { // first batch: no ledger yet
              lastFilterSource.set("first-batch")
              val (probed, filter) = batchPass(hashed, lit(false))
              lastProbedRows.set(probed)
              (hashed, None: Option[BloomFilter], filter)
            } else {
              val ledger = readLedger()
              val bp = bloomPath(ledgerDir)
              effCapacity = readCapacity()
              val loaded =
                if (fs.exists(bp)) {
                  val in = fs.open(bp)
                  try { lastFilterSource.set("incremental"); BloomFilter.readFrom(in) }
                  finally in.close()
                } else {
                  lastFilterSource.set("rebuilt")
                  step(spark, "filter rebuild")(ledgerFilter(ledger, effCapacity))
                }
              // saturation is read off the filter, not a ledger count;
              // at the maxNumBits clamp no rebuild adds bits, so the
              // filter stays incremental rather than rescan every batch.
              // A stale (smaller) sidecar after a crash between the
              // filter and capacity writes shows up as a geometry
              // mismatch at the merge, which the heal below rebuilds.
              val filter =
                if (loaded.expectedFpp() > bloomFpp && loaded.bitSize() < maxNumBits)
                  step(spark, "filter regrow") {
                    effCapacity = math.max(effCapacity * 4, ledger.count() * 2)
                    lastFilterSource.set("regrown")
                    ledgerFilter(ledger, effCapacity)
                  }
                else loaded
              val bloomBc = sc.broadcast(filter)
              val mightContain = udf((h: String) => bloomBc.value.mightContain(h))
              val flagged = hashed.withColumn("probable", mightContain(col("h")))
              val (probed, batchFilter) = batchPass(flagged, col("probable"))
              lastProbedRows.set(probed)
              val probable = flagged.filter(col("probable")).drop("probable")
              val novel = flagged.filter(!col("probable")).drop("probable")
                .unionByName(probable.join(ledger, Seq("h"), "left_anti"))
              novel.persist(); toRelease += novel
              (novel, Some(filter), batchFilter)
            }
          step(spark, "corpus write") {
            ReplaySafeSink.writeBatch(novel.drop("h"), outDir,
              RunToken.of(spark, checkpointDir), batchId)
          }
          // merge the batch filter into the standing filter and persist
          // it BEFORE the ledger append (superset invariant)
          val merged =
            try batchFilter.map { f => standing.foreach(f.mergeInPlace); f }.orElse(standing)
            catch { case _: Exception =>
              // geometry drift (conf clamp change, torn regrow): heal by
              // rebuilding from ledger ∪ novel at the effective geometry
              // — still a superset of the post-append ledger
              lastFilterSource.set("regrown")
              step(spark, "filter regrow") {
                Some(ledgerFilter(readLedger().unionByName(novel.select("h")), effCapacity))
              }
            }
          merged.foreach(writeFilter(fs, bloomPath(ledgerDir), _))
          // capacity sidecar AFTER the filter: a crash between leaves a
          // stale (smaller) capacity, whose geometry the next merge
          // refuses and the heal rebuilds — self-healing
          writeCapacity(fs, capPath, effCapacity)
          step(spark, "ledger append") {
            novel.select("h").write.mode(SaveMode.Append).parquet(ledgerDir)
          }
        } finally toRelease.foreach(_.unpersist())
        // ledger hygiene on the standing-index cadence: every batch
        // appends part files, and file count alone degraded the probe
        // ~15× at 100M arrivals (BIGBENCH.md r14). Synchronous AFTER
        // this batch's append; a retry reads the same hash SET
        // whatever the file layout, and the Bloom sidecar lives under
        // _bloom where the compactor never looks.
        IndexMaintenance.autoCompactPlain(spark, ledgerDir, batchId)
        ()
      }
      .start()

  /** Serialize via temp file + rename (atomic on HDFS-like stores), so
    * a crash mid-write leaves the previous filter, not a torn one. */
  private def writeFilter(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                          filter: BloomFilter): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try filter.writeTo(out) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** The filter's effective capacity, same temp+rename discipline. */
  private def writeCapacity(fs: org.apache.hadoop.fs.FileSystem, p: Path,
                            capacity: Long): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(capacity.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** Drop the persisted pre-gate filter (forces a rebuild scan on the
    * next batch) — maintenance hook, e.g. after manually compacting or
    * rewriting the ledger. */
  def resetFilter(spark: SparkSession, ledgerDir: String): Unit = {
    val p = bloomPath(ledgerDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, false)
    val cap = new Path(s"$ledgerDir/_bloom/capacity")
    if (fs.exists(cap)) fs.delete(cap, false)
  }
}
