package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Incremental RELEASE DIFF — the streaming twin of
  * [[graft.operators.Documents.releaseDiff]] (the batch operator
  * behind `corpus_release_diff`), closing the last batch/stream
  * asymmetry in the corpus-assembly tier: instead of re-sweeping two
  * full releases when their manifests disagree, the NEW release
  * streams in and every arrival is classified against a standing
  * index of the previous release.
  *
  * Shape:
  *  - [[indexRelease]] (once, batch): the previous release reduced
  *    map-side to (doc_id, source, md5) — the same 32-byte content
  *    hash the batch diff joins on; the text never lands in state.
  *  - [[ingestReleaseDiff]]: each arriving current-release doc joins
  *    the index by doc_id (broadcast-or-shuffle by measured size) and
  *    is appended to a classification LEDGER as added / changed /
  *    unchanged. Classification is per-doc and content-keyed, so the
  *    ledger is identical under ARBITRARY arrival order and ANY
  *    micro-batch slicing — the same order-independence contract as
  *    [[ManifestIngest]]'s xor checksum, and the reason `removed`
  *    is NOT streamed: a doc's absence is only decidable against the
  *    full current release.
  *  - [[diff]] (read side, any time): ledger counts + the index
  *    anti-joined against the ledger (= prev docs not yet seen →
  *    `removed`). Once the stream has seen exactly the current
  *    release, `diff` equals the batch `releaseDiff(cur, prev)` row
  *    for row — mid-stream it is the audit's running view, with
  *    not-yet-seen docs still reported as removed.
  *
  * Replay safety: the ledger is partitioned by ([[RunToken]],
  * batch_id) and written with dynamic partition OVERWRITE via
  * [[ReplaySafeSink.writeBatch]] — the same recipe as every other
  * ingest here — so a checkpoint retry replaces exactly its own
  * partition, and a FRESH-checkpoint incarnation's batch 0 can never
  * clobber an earlier incarnation's batch-0 partition (bare batch_id
  * partitioning had exactly that hazard: silently dropped ledger rows
  * that [[diff]] then misreported as `removed`). At-least-once
  * sources may additionally deliver a
  * doc in MORE THAN ONE micro-batch (distinct batch_ids, so dynamic
  * overwrite cannot collapse them); [[diff]] deduplicates the ledger
  * per doc_id at read time, which is exact because classification is
  * per-doc and content-keyed — any one row per doc is the row. [[ManifestIngest]] stays the cheap triage tier:
  * when two releases' manifests agree per shard, no diff needs to
  * run at all; [[shardTriage]] lists the shards whose (n_docs,
  * n_tokens, checksum) disagree, bounding a targeted re-sweep. */
object ReleaseDiffIngest {

  /** One-time batch reduction of the PREVIOUS release to its standing
    * diff index: (doc_id, source, md5-of-text). */
  def indexRelease(prev: DataFrame, indexDir: String): Unit =
    prev.select(col("doc_id"), col("source").as("src_p"),
        md5(col("text").cast("binary")).as("h_p"))
      .write.mode(SaveMode.Overwrite).parquet(indexDir)

  /** Stream the CURRENT release against the standing index, appending
    * per-doc classifications to the ledger. */
  def ingestReleaseDiff(cur: DataFrame, indexDir: String, ledgerDir: String,
                        checkpointDir: String): StreamingQuery =
    ReplaySafeBatch.start(cur, checkpointDir) { (batch, batchId, token) =>
      if (!batch.isEmpty) {
        // the index row indexRelease writes, typed off the batch (both
        // releases share the doc_id and source columns), so no
        // inference job per batch
        val index = batch.sparkSession.read.schema(StructType(Seq(
            batch.schema("doc_id"), batch.schema("source").copy(name = "src_p"),
            StructField("h_p", StringType))))
          .parquet(indexDir)
        val classified = batch.select(col("doc_id"), col("source"),
            md5(col("text").cast("binary")).as("h_c"))
          .join(graft.operators.Ops.broadcastIfFits(index), Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("source"),
            when(col("h_p").isNull, "added")
              .when(col("h_c") =!= col("h_p"), "changed")
              .otherwise("unchanged").as("status"))
        ReplaySafeSink.writeBatch(classified, ledgerDir, token, batchId)
      }
    }

  /** The running diff: ledger counts plus prev-index docs the stream
    * has not seen (→ removed). Equals the batch
    * [[graft.operators.Documents.releaseDiff]] once the stream has
    * consumed exactly the current release. */
  def diff(spark: SparkSession, indexDir: String, ledgerDir: String): DataFrame = {
    // At-least-once sources can deliver a doc in more than one
    // micro-batch, each appending a ledger row under its own batch_id;
    // without deduplication those re-deliveries double-count forever.
    // Classification is per-doc and content-keyed, so ANY one row per
    // doc_id is the correct row — keep one.
    val ledger = spark.read.parquet(ledgerDir)
      .select("doc_id", "source", "status")
      .dropDuplicates("doc_id")
    val removed = spark.read.parquet(indexDir)
      .join(ledger.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("src_p").as("source"), lit("removed").as("status"))
    ledger.select("source", "status").unionByName(removed)
      .groupBy("source", "status").agg(count(lit(1)).as("n"))
      .orderBy("source", "status")
  }

  /** Manifest-level triage: shards whose (n_docs, n_tokens, checksum)
    * disagree between two releases' manifests — the xor state makes
    * agreement a 24-byte-per-shard comparison, so an unchanged shard
    * is skipped without touching a document. */
  def shardTriage(curManifest: DataFrame, prevManifest: DataFrame): DataFrame =
    curManifest.as("c")
      .join(prevManifest.as("p"), Seq("shard_id"), "full_outer")
      .filter(
        coalesce(col("c.n_docs"), lit(-1L)) =!= coalesce(col("p.n_docs"), lit(-1L)) ||
        coalesce(col("c.n_tokens"), lit(-1L)) =!= coalesce(col("p.n_tokens"), lit(-1L)) ||
        coalesce(col("c.checksum"), lit(-1L)) =!= coalesce(col("p.checksum"), lit(-1L)))
      .select(col("shard_id"))
      .orderBy("shard_id")
}
