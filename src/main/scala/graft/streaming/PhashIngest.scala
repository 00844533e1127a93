package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Multimodal

/** Streaming PERCEPTUAL media dedup — the multimodal twin of
  * [[NearDupIngest]], covering both images ([[ingestImageDedup]],
  * dHash) and audio ([[ingestAudioDedup]], aHash): arriving payloads
  * are decoded and hashed ([[Multimodal.dHash64]] /
  * [[Multimodal.aHash64]] — all-integer, so the signature is
  * bit-identical however the media reaches the stream), and any
  * arrival whose hash sits within `maxHamming` of a standing-index
  * signature inside the lateness horizon is DROPPED before it reaches
  * the corpus. A dHash is a 64-bit locality signature, so the probe
  * and in-batch passes reuse the text tier's banded Hamming joins
  * ([[NearDupIngest]]'s probe and [[Documents.simhashPairs]], both on
  * [[graft.operators.Lsh]]) unchanged — the image stream inherits the text stream's
  * O(|batch| + band collisions) economics, never a corpus self-join.
  *
  * Per micro-batch, on the [[ReplaySafeBatch]] skeleton (which owns
  * the watermark, replay, retention and compaction contracts):
  * decode+hash (the partition-batched media seam — per-row imperative
  * byte work with no Catalyst equivalent), probe the standing index
  * horizon, greedy in-batch pair drop (keep the smaller doc_id, the
  * [[NearDupIngest]] convention), then write survivors to the corpus
  * and their signatures to the index. UNDECODABLE payloads are
  * admitted to the corpus but not indexed: an ingest must never lose
  * data it cannot read, and a signature it cannot compute can't be
  * probed — route such rows to a quarantine audit downstream if the
  * pipeline needs one. A near-duplicate arriving beyond the horizon is
  * admitted — run the batch [[Multimodal.multimodalDedupPhash]] over
  * the lake for the unbounded answer. */
object PhashIngest {

  /** The perceptual signature per media mode — both are 64-bit
    * locality hashes, so everything downstream of this one map is
    * shared. `None` ⇔ undecodable. */
  private def sigOf(mode: String, bytes: Array[Byte]): Option[Long] = mode match {
    // container-sniffing decode (BMP magic or real compressed PNG), so
    // a PNG re-encode of a BMP image — or any cross-container clone —
    // lands on the same signature and is dropped like a same-format dup
    case "image" => Multimodal.MediaTransform.pixelsOf(bytes)
      .map { case (w, h, px) => Multimodal.dHash64(px, w, h) }
    case "audio" => Multimodal.MediaTransform.wavSamples(bytes)
      // a structurally valid EMPTY wav (44-byte header, dataLen=0)
      // decodes to 0 frames — no loudness sequence to hash. Treat it
      // as undecodable (admit, don't index) rather than throwing:
      // an exception here fails the micro-batch and the checkpoint
      // retries the same poison pill forever
      .filter { case (_, _, frames, _) => frames > 0 }
      .map { case (_, c, _, s) => Multimodal.aHash64(s, c) }
    // the temporal hash discriminates only past ~65 frames (see
    // tHash64); shorter clips are admitted un-indexed like any other
    // payload the mode cannot signature
    case "video" => graft.operators.AviCodec.decode(bytes)
      .filter { case (_, _, _, frames) => frames.length >= 65 }
      .map { case (_, _, _, frames) => Multimodal.tHash64(frames) }
    case m => throw new IllegalArgumentException(s"unknown media mode '$m'")
  }

  /** Input stream columns: `doc_id` (long), `ts` (timestamp), `media`
    * (binary image payload — BMP or real compressed PNG, sniffed per
    * row via [[Multimodal.MediaTransform.pixelsOf]]). */
  def ingestImageDedup(media: DataFrame, indexDir: String, outDir: String,
                       checkpointDir: String, maxHamming: Int = 4,
                       watermarkMs: Long = 2L * 3600 * 1000): StreamingQuery =
    ingest(media, "image", indexDir, outDir, checkpointDir, maxHamming, watermarkMs)

  /** The audio twin: same standing index shape over [[Multimodal
    * .aHash64]] signatures, so a re-encoded or integer-resampled clip
    * arriving within the horizon is dropped like a re-encoded image. */
  def ingestAudioDedup(media: DataFrame, indexDir: String, outDir: String,
                       checkpointDir: String, maxHamming: Int = 4,
                       watermarkMs: Long = 2L * 3600 * 1000): StreamingQuery =
    ingest(media, "audio", indexDir, outDir, checkpointDir, maxHamming, watermarkMs)

  /** The video twin: [[Multimodal.tHash64]] over the decoded AVI
    * frame sequence — a re-contained or fps-resampled clip arriving
    * within the horizon is dropped; clips too short to signature
    * (< 65 frames) are admitted un-indexed. */
  def ingestVideoDedup(media: DataFrame, indexDir: String, outDir: String,
                       checkpointDir: String, maxHamming: Int = 4,
                       watermarkMs: Long = 2L * 3600 * 1000): StreamingQuery =
    ingest(media, "video", indexDir, outDir, checkpointDir, maxHamming, watermarkMs)

  private def ingest(media: DataFrame, mode: String, indexDir: String,
                     outDir: String, checkpointDir: String, maxHamming: Int,
                     watermarkMs: Long): StreamingQuery =
    ReplaySafeBatch.start(media, checkpointDir) { (batch, batchId, token) =>
      processBatch(batch, batchId, token, mode, indexDir, outDir, maxHamming, watermarkMs)
    }

  /** The per-micro-batch body, callable directly so specs can REPLAY a
    * committed batchId (the [[LeakageIngest.processBatch]] pattern). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, runToken: String,
                                  mode: String, indexDir: String, outDir: String,
                                  maxHamming: Int, watermarkMs: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // one row per doc_id up front: equal ids never pair in the strict
    // d1 < d2 in-batch pass, so a doubly-delivered doc would survive
    // twice AND multiply quadratically through the corpus join below
    val uniq = batch.select(col("doc_id"), col("ts"), col("media"))
      .dropDuplicates("doc_id")
    val sigs = uniq
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, ts, bytes) => (id, ts, sigOf(mode, bytes)) }
      }
      .toDF("doc_id", "ts", "simhash") // simhash null ⇔ undecodable
    ReplaySafeBatch.process(sigs, batchId, runToken, indexDir, outDir, watermarkMs,
      Seq("doc_id", "simhash", "ts")) { (_, horizon) =>
      val kept = NearDupIngest.simhashSurvivors(
        sigs.filter(col("simhash").isNotNull), horizon, maxHamming)
      // corpus keeps the original payload: join survivor ids (plus the
      // undecodable ones — admit, don't index) back to the
      // deduplicated batch rather than carrying media bytes through
      // the joins
      val admitted = kept.select("doc_id")
        .unionByName(sigs.filter(col("simhash").isNull).select("doc_id"))
      (uniq.join(admitted, Seq("doc_id")), kept)
    }
  }

}
