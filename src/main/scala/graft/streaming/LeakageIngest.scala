package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Documents, Lsh}

/** Streaming split-leakage AUDIT — the watermark-bounded twin of the
  * batch `corpus_split_leakage` query: every arriving document gets
  * its content-hash split assignment ([[Documents.splitExpr]], the
  * same rule as the batch [[Documents.splitAssign]]), probes the
  * standing signature index for near matches within `maxHamming`, and
  * every hit whose indexed split DIFFERS from the arrival's is emitted
  * as a leakage alert — the near-copy contamination the content-keyed
  * split cannot prevent (exact copies hash to the SAME split by
  * construction, so they can never alert; near-copies hash
  * independently).
  *
  * Unlike [[NearDupIngest]] nothing is dropped: an audit observes.
  * Every arrival is appended to the index with its split, so later
  * arrivals can straddle against it. Same-batch straddles are caught
  * by the in-batch pair pass (ordered pairs — the later/larger id is
  * reported as the arriving side, matching the greedy streaming-order
  * convention of the dedup twin).
  *
  * The watermark, replay, retention and compaction contracts are the
  * [[ReplaySafeBatch]] skeleton's: a near-dup arriving beyond the
  * horizon is NOT alerted — bounded state is the streaming contract;
  * run the batch audit over the lake for the unbounded answer. */
object LeakageIngest {

  def ingestLeakageAudit(docs: DataFrame, indexDir: String, alertDir: String,
                         checkpointDir: String, maxHamming: Int = 3,
                         watermarkMs: Long = 2L * 3600 * 1000): StreamingQuery =
    ReplaySafeBatch.start(docs, checkpointDir) { (batch, batchId, token) =>
      processBatch(batch, batchId, token, indexDir, alertDir, maxHamming, watermarkMs)
    }

  /** The per-micro-batch body, callable directly so specs can REPLAY a
    * committed batchId — the checkpoint-retry path a MemoryStream test
    * cannot otherwise force. `runToken` scopes partitions and the
    * probe's self-exclusion to this checkpoint (see [[RunToken]]). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, runToken: String,
                                  indexDir: String, alertDir: String,
                                  maxHamming: Int, watermarkMs: Long): Unit =
    ReplaySafeBatch.process(
      batch
        .withColumn("simhash",
          graft.functions.VectorExpressions.simhash64(split(col("text"), " ")))
        .withColumn("split", Documents.splitExpr())
        .select("doc_id", "ts", "simhash", "split"),
      batchId, runToken, indexDir, alertDir, watermarkMs,
      Seq("doc_id", "simhash", "split", "ts")) { (sims, horizon) =>
      // (doc_id, matched_id) pairs → alerts where the two splits differ
      def straddles(pairs: DataFrame, matched: DataFrame): DataFrame = pairs
        .join(sims.select(col("doc_id"), col("ts"), col("split").as("split_new")), "doc_id")
        .join(matched.select(col("doc_id").as("matched_id"), col("split").as("split_old")),
          "matched_id")
        .filter(col("split_new") =!= col("split_old"))
        .select("doc_id", "matched_id", "split_new", "split_old", "ts")
      val standingAlerts = horizon.map { index =>
        straddles(Lsh.candidates(sims, index, Lsh.BitBands.over(1,
          Documents.autoSimhashBandBits(maxHamming)), self = false, ("doc_id", "matched_id"),
          sig = "simhash", maxHamming = Some(maxHamming)), index)
      }
      // in-batch straddles: the pair pass over this batch alone —
      // d1 < d2, so d2 is reported as the arriving side
      val inBatchAlerts = straddles(
        Documents.simhashPairs(sims.select("doc_id", "simhash"), maxHamming)
          .select(col("d2").as("doc_id"), col("d1").as("matched_id")),
        sims)
      // admit EVERYTHING — the audit never drops
      (standingAlerts.fold(inBatchAlerts)(_.unionByName(inBatchAlerts)), sims)
    }
}
