package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.operators.{Crawl, Documents}

/** The crawl front end as an ARRIVAL-TIME stream — the streaming twin
  * of [[graft.operators.Crawl.crawlPipeline]], completing the ingest
  * matrix (exact hashes, text shingles, media signatures, embedding
  * sketches, and now raw crawl traffic). WARC blobs arrive as binary
  * rows; each micro-batch frames them, extracts text, applies robots
  * compliance against the persisted parsed rule set, and
  * admits only resources whose CANONICAL URL has not been fetched
  * before — first fetch wins, the arrival-order twin of the batch
  * row's keep-min-id. The canonical-URL ledger and the corpus sink
  * both ride [[ReplaySafeSink]]/[[RunToken]], so checkpoint retries
  * reproduce their own first attempt and fresh-checkpoint incarnations
  * never clobber history — the same replay contract as every other
  * ingest here.
  *
  * Scale shape per batch: partition-batched WARC framing (records are
  * self-contained, blobs never split), a codegen'd extraction
  * projection, one measured-broadcast robots join with a
  * map-side-partial verdict, an in-batch canonical reduce, and ONE
  * anti join against
  * the standing ledger keyed by canonical URL — short keys, the
  * cheapest standing state a crawl can keep. */
object CrawlIngest {

  /** Start the ingest: `blobs` streams (ts, blob) rows; `robots` is a
    * static (host, robots_txt) frame parsed once up front. */
  def ingestWarc(blobs: DataFrame, robots: DataFrame, ledgerDir: String,
                 outDir: String, checkpointDir: String): StreamingQuery = {
    // parse the rules ONCE and persist the parsed frame (an
    // unpersisted lazy plan would re-run the windowed parse in every
    // micro-batch). Persist, NOT a driver collect + local-relation
    // pin: the rule frame scales with distinct hosts, and a
    // production crawl's millions of hosts would OOM the driver long
    // before any per-host contract is violated. robotsVerdict's
    // measured-broadcast decision then memoizes over this same
    // persisted plan, so executors see a broadcast only while it fits.
    val rules = graft.Caches.persist(Crawl.robotsRules(robots))
    ReplaySafeBatch.start(blobs, checkpointDir) { (batch, batchId, token) =>
      processBatch(batch, batchId, token, rules, ledgerDir, outDir)
    }
  }

  private[graft] def processBatch(batch: DataFrame, batchId: Long, token: String,
                                  rules: DataFrame, ledgerDir: String,
                                  outDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val parsed = batch.select(col("blob")).as[Array[Byte]]
      .mapPartitions(it => it.flatMap(Crawl.warcParse))
      .toDF("url", "status", "payload")
    val extracted = parsed
      .filter(col("status") === 200)
      .select(col("url"), Crawl.htmlExtract(col("payload")).as("text"))
      .withColumn("host",
        lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]*).*", 1)))
      .withColumn("url_path",
        regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]*([^?#]*).*", 1))
    val allowed = Crawl.robotsVerdict(extracted, rules)
      .filter(col("allowed"))
      .select(col("url"), col("text"),
        Documents.urlCanonical(col("url")).as("canonical_url"))
    // in-batch first-fetch winner, fully deterministic (lexicographic
    // (url, text) min) so a checkpoint retry reproduces byte-identical
    // partitions even when one resource arrives twice in a batch
    val inBatch = allowed
      .groupBy("canonical_url")
      .agg(min_by(struct(col("url"), col("text")),
        struct(col("url"), col("text"))).as("w"))
      .select(col("canonical_url"), col("w.url").as("url"), col("w.text").as("text"))
    // standing-ledger gate: set-exclusion read, so a retry sees exactly
    // the pre-batch fetch history (never its own first attempt); the
    // ledger's schema is given, so no inference job per batch
    val novel = ReplaySafeSink.standingRows(spark, ledgerDir, token, batchId,
        Some(StructType.fromDDL("canonical_url STRING"))) match {
      case Some(led) =>
        inBatch.join(led.select("canonical_url"), Seq("canonical_url"), "left_anti")
      case None => inBatch
    }
    // persisted so the corpus and ledger writes see ONE row set (a
    // recompute during the ledger write would re-read the ledger
    // mid-append — the CorpusIngest consistency discipline)
    novel.persist()
    try {
      ReplaySafeSink.writeBatch(novel, outDir, token, batchId)
      ReplaySafeSink.writeBatch(novel.select("canonical_url"), ledgerDir, token, batchId)
    } finally novel.unpersist()
    // standing-ledger hygiene on a cadence, not by operator memory:
    // every batch appends a partition, and at 100M arrivals the probe
    // read degraded ~15x on file count alone (BIGBENCH.md round 14).
    // Synchronous in the batch body AFTER this batch's writes, so a
    // retry can never race the compactor; keeps exactly this (token,
    // batchId) partition live (see IndexMaintenance.compactIndexLive
    // for why that preserves the replay contract).
    IndexMaintenance.autoCompact(spark, ledgerDir, token, batchId)
  }
}
