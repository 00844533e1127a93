package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

/** The shared micro-batch skeleton under the watermark-bounded index
  * ingests ([[NearDupIngest]], [[LeakageIngest]], [[EmbedIngest]],
  * [[PhashIngest]]). Each ingest supplies its signature projection,
  * its probe plus in-batch pass, and the frames it writes; the
  * skeleton runs the rest, once:
  *
  *  1. persist the signed batch and run ONE aggregate over it — row
  *     count and max(ts) — which materializes the persist and yields
  *     both the empty-batch guard and the watermark cutoff;
  *  2. read the standing index with its schema given (derived from the
  *     index row the ingest writes, so no per-batch inference job) and
  *     cut it to the horizon: `d >= to_date(cutoff) - 1` prunes expired
  *     date partitions at planning time, `ts >= cutoff` is the exact
  *     filter;
  *  3. persist the rows both writes read, write the output (corpus or
  *     alerts), then the index with its `d` date partition leading;
  *  4. unpersist, then compact the index on
  *     [[IndexMaintenance.autoCompact]]'s cadence.
  *
  * A steady batch therefore runs three SQL executions: the aggregate
  * and the two writes.
  *
  * WATERMARK: only index rows within `watermarkMs` of the batch's max
  * event time are probed, so per-batch state is bounded by the horizon,
  * the `dropDuplicatesWithinWatermark` contract — an arrival matching
  * only older rows passes; run the batch operator over the lake for the
  * unbounded answer. `d` is the write session's date of `ts`; the day of
  * slack keeps the prune exact when the index was written under another
  * session time zone (any two zones less than a day apart). Date
  * partitions older than the horizon can be dropped as directories
  * ([[IndexMaintenance.expireIndex]]).
  *
  * REPLAY ([[ReplaySafeSink]], [[RunToken]]): both sinks are partitioned
  * by (run token, batch_id) and written with dynamic partition
  * overwrite, and the standing read excludes exactly the current
  * (token, batchId) pair. A checkpoint retry of batch N at any crash
  * point — before, between or after the two writes — replaces exactly
  * its own first-attempt partitions against exactly the pre-batch
  * index, and a fresh-checkpoint incarnation (batchId back at 0) can
  * neither clobber history nor lose the standing index from its probes.
  * The written rows are persisted across both writes so they see one
  * row set. Compaction runs after both writes and keeps the live
  * (token, batchId) partition, so the only possible retry stays
  * replay-safe ([[IndexMaintenance.compactIndexLive]]).
  *
  * A missing or fully expired index is the cold start; any other read
  * failure fails the micro-batch so the checkpoint retries it. Empty
  * micro-batches (routine on Kafka rebalances) write nothing. */
object ReplaySafeBatch {

  /** Start `stream` with `body(batch, batchId, runToken)` as its
    * `foreachBatch`, the run token read from (or minted into) the
    * checkpoint. */
  def start(stream: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long, String) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId, RunToken.of(batch.sparkSession, checkpointDir))
      }
      .start()

  /** The local property `SparkContext.setJobDescription` sets. */
  private val jobDescriptionKey = "spark.job.description"

  /** Runs `body` with its jobs described as `description`; the caller's
    * description comes back afterwards. */
  def step[T](spark: SparkSession, description: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty(jobDescriptionKey)
    sc.setJobDescription(description)
    try body finally sc.setLocalProperty(jobDescriptionKey, previous)
  }

  /** One micro-batch of a watermark-bounded index ingest. `signed` is
    * the batch with its signature columns and `ts`; `indexCols` name an
    * index row's columns, `d` aside, and so fix the index's read schema.
    * `admit(signed, horizon)` probes the horizon (None: no standing
    * index yet, or no event time in the batch), runs the in-batch pass
    * and returns (output rows, rows to index). The rows to index are
    * persisted for both writes, so the output rows should read off them
    * or off `signed`. */
  def process(signed: DataFrame, batchId: Long, token: String,
              indexDir: String, outDir: String, watermarkMs: Long,
              indexCols: Seq[String])(
      admit: (DataFrame, Option[DataFrame]) => (DataFrame, DataFrame)): Unit = {
    val spark = signed.sparkSession
    val indexRow = indexCols.map(col) :+ to_date(col("ts")).as("d")
    signed.persist()
    try {
      val stats = step(spark, "index: batch pass") {
        signed.agg(count(lit(1)), max(col("ts"))).head()
      }
      if (stats.getLong(0) > 0) {
        val horizon = Option(stats.getTimestamp(1)).flatMap { maxTs =>
          val cutoff = new java.sql.Timestamp(maxTs.getTime - watermarkMs)
          ReplaySafeSink.standingRows(spark, indexDir, token, batchId,
              Some(signed.select(indexRow: _*).schema))
            .map(_.filter(col("d") >= date_sub(to_date(lit(cutoff)), 1) &&
              col("ts") >= lit(cutoff)))
        }
        val (out, indexed) = admit(signed, horizon)
        // the Leakage audit indexes the signed batch itself, already cached
        val owned = indexed.storageLevel == StorageLevel.NONE
        if (owned) indexed.persist()
        try {
          step(spark, "output write") {
            ReplaySafeSink.writeBatch(out, outDir, token, batchId)
          }
          step(spark, "index write") {
            ReplaySafeSink.writeBatch(indexed.select(indexRow: _*), indexDir,
              token, batchId, leading = Seq("d"))
          }
        } finally if (owned) indexed.unpersist()
      }
    } finally signed.unpersist()
    step(spark, "index compaction") {
      IndexMaintenance.autoCompact(spark, indexDir, token, batchId)
    }
  }
}
