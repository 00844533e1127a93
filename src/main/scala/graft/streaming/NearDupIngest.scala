package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Documents, Lsh}

/** Streaming NEAR-dup ingest — the watermark-bounded fuzzy twin of
  * [[CorpusIngest]]'s exact ledger: a document whose SimHash sits
  * within `maxHamming` of anything already admitted inside the
  * lateness horizon is dropped before it reaches the corpus.
  *
  * Per micro-batch, on the [[ReplaySafeBatch]] skeleton (which owns
  * the watermark and replay contracts):
  *
  *  1. signature — the codegen'd SimHash64 over the token stream, a
  *     stateless map (the streaming-safe part of the batch operator);
  *  2. probe — [[Lsh.candidates]] band-joins the batch signatures
  *     against the STANDING index horizon (the layout and Hamming gate
  *     of [[Documents.simhashPairs]]), so each batch costs
  *     O(|batch| + band collisions), never a corpus self-join;
  *  3. in-batch — [[Documents.simhashPairs]] over what survived the
  *     probe, greedy keep-the-smaller-id (duplicates of a rejected doc
  *     are re-admitted, by design: the KEPT corpus is what must hold no
  *     near-pairs — chain-shaped clusters therefore resolve greedily,
  *     like every streaming-order dedup);
  *  4. write — survivors to the corpus; their (doc_id, simhash, ts)
  *     to the date-partitioned index. */
object NearDupIngest {

  /** `maxHamming` defaults to the strict 64-bit bar (3 → 4×16-bit
    * bands, pigeonhole-guaranteed, collision-light); looser bars force
    * 8-bit bands whose random-collision term grows quadratically with
    * BATCH size — size micro-batches accordingly or verify downstream. */
  def ingestNearDedup(docs: DataFrame, indexDir: String, outDir: String,
                      checkpointDir: String, maxHamming: Int = 3,
                      watermarkMs: Long = 2L * 3600 * 1000): StreamingQuery =
    ReplaySafeBatch.start(docs, checkpointDir) { (batch, batchId, token) =>
      processBatch(batch, batchId, token, indexDir, outDir, maxHamming, watermarkMs)
    }

  /** The per-micro-batch body, callable directly so specs can REPLAY a
    * committed batchId (the [[LeakageIngest.processBatch]] pattern). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, runToken: String,
                                  indexDir: String, outDir: String,
                                  maxHamming: Int, watermarkMs: Long): Unit =
    ReplaySafeBatch.process(
      batch.withColumn("simhash",
        graft.functions.VectorExpressions.simhash64(split(col("text"), " "))),
      batchId, runToken, indexDir, outDir, watermarkMs,
      Seq("doc_id", "simhash", "ts")) { (sims, horizon) =>
      val survivors = simhashSurvivors(sims, horizon, maxHamming)
      (survivors.drop("simhash"), survivors)
    }

  /** The rows of `sims` (doc_id, simhash, …) with no neighbor within
    * `maxHamming` in the `horizon` index, minus the larger id of every
    * in-batch near pair among them. */
  private[streaming] def simhashSurvivors(sims: DataFrame, horizon: Option[DataFrame],
                                          maxHamming: Int): DataFrame = {
    val afterProbe = horizon.fold(sims) { index =>
      val hits = Lsh.candidates(sims, index, Lsh.BitBands.over(1,
        Documents.autoSimhashBandBits(maxHamming)), self = false, ("doc_id", "matched_id"),
        sig = "simhash", maxHamming = Some(maxHamming))
      sims.join(hits, Seq("doc_id"), "left_anti")
    }
    val inBatchDrop = Documents
      .simhashPairs(afterProbe.select("doc_id", "simhash"), maxHamming)
      .select(col("d2").as("doc_id")).distinct()
    afterProbe.join(inBatchDrop, Seq("doc_id"), "left_anti")
  }
}
