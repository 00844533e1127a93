package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Embeddings, Lsh}

/** Streaming EMBEDDING-SPACE dedup — the semantic twin of
  * [[NearDupIngest]], completing the arrival-time dedup matrix (exact
  * hashes / text shingles / image dHash / audio aHash / embedding
  * cosine): an arriving vector whose cosine similarity to anything
  * admitted inside the lateness horizon reaches `simThreshold` is
  * dropped before it reaches the corpus. This is the front end of the
  * batch `dedup_embed_cosine` operator
  * ([[Embeddings.embedCosinePairs]]) run incrementally: the SAME
  * md5-derived sign-sketch signature, the same band-match → Hamming
  * gate → exact-verify funnel, so a stream arrival and a batch
  * backfill can never disagree on whether two vectors are near-dups.
  *
  * Per micro-batch, on the [[ReplaySafeBatch]] skeleton:
  *
  *  1. signature — the codegen'd [[graft.functions.VectorExpressions.SignSketch]]
  *     over the embedding, plus the vector's norm and post-prefix
  *     tail norm (computed ONCE per vector here, so the quadratic
  *     verify stage below never recomputes them — the
  *     [[Embeddings.semanticDupPairs]] lesson);
  *  2. probe — [[Lsh.candidates]] band-joins batch signatures
  *     against the STANDING index (16-bit bands, 4 per signature
  *     word) behind the full-signature Hamming gate
  *     ([[Lsh.cosineMaxHamming]]), then [[Lsh.cosineVerified]] takes
  *     the EXACT cosine of the survivors through the Cauchy–Schwarz-
  *     gated dot (lossless: the gate only skips pairs whose prefix dot
  *     plus best-possible tail cannot reach the cut). Cost per batch
  *     is O(|batch| + band collisions), never a corpus self-join;
  *  3. in-batch — the same funnel over the batch alone, greedy
  *     keep-the-smaller-id (the [[NearDupIngest]] convention);
  *  4. write — survivors to the corpus; their (signature, embedding,
  *     norms) to the date-partitioned index.
  *
  * The index stores the embedding alongside the signature: the exact
  * verify needs the vector, and shipping it with the signature keeps
  * the probe one join instead of a read back into the corpus sink
  * (which holds arbitrary payload columns, not a probe-shaped frame).
  *
  * The watermark, replay, retention and compaction contracts are the
  * [[ReplaySafeBatch]] skeleton's: a vector arriving beyond the
  * horizon is admitted — run the batch operator over the lake for the
  * unbounded answer. */
object EmbedIngest {

  /** Input stream columns: `doc_id` (long), `ts` (timestamp),
    * `embedding` (array<float>, dim ≤ 64 — the signature matrix
    * bound). `bandBits` (8..32, checked before the stream starts) fixes
    * the band width (the batch operator's auto-sizing needs a corpus
    * count, which a stream doesn't have — pick ⌈log₂ n⌉+6 for the
    * EXPECTED standing-index size; 16 covers ~1M vectors per horizon). */
  def ingestEmbedDedup(vecs: DataFrame, indexDir: String, outDir: String,
                       checkpointDir: String, simThreshold: Double = 0.95,
                       bandBits: Int = 16,
                       watermarkMs: Long = 2L * 3600 * 1000): StreamingQuery = {
    Embeddings.cosineBands(bandBits) // a bad width fails here, before any checkpoint
    ReplaySafeBatch.start(vecs, checkpointDir) { (batch, batchId, token) =>
      processBatch(batch, batchId, token, indexDir, outDir, simThreshold, bandBits,
        watermarkMs)
    }
  }

  /** The per-micro-batch body, callable directly so specs can REPLAY a
    * committed batchId (the [[LeakageIngest.processBatch]] pattern). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, runToken: String,
                                  indexDir: String, outDir: String,
                                  simThreshold: Double, bandBits: Int,
                                  watermarkMs: Long): Unit = {
    val layout = Embeddings.cosineBands(bandBits)
    val nBits = layout.words * 64
    // one row per doc_id (the PhashIngest lesson: equal ids never pair
    // under the strict in-batch ordering, so a double delivery would
    // survive twice); norms once per vector, not once per pair
    val signed = batch.select(col("doc_id"), col("ts"), col("embedding"))
      .dropDuplicates("doc_id")
      .select(Seq(col("doc_id"), col("ts"), col("embedding"),
        Embeddings.signatureCol(nBits).as("sig")) ++ Lsh.norms: _*)
    // band → Hamming gate → gated exact cosine between two signature
    // frames: `self` is the strict id_a < id_b in-batch pass, otherwise
    // frame `a` (the batch) probes `b` (the standing index)
    def cosinePairs(a: DataFrame, b: DataFrame, self: Boolean): DataFrame =
      Lsh.cosineVerified(
        Lsh.candidates(a, b, layout, self, ("id_a", "id_b"),
          maxHamming = Some(Lsh.cosineMaxHamming(nBits, simThreshold))),
        a, b, "doc_id", simThreshold)
    ReplaySafeBatch.process(signed, batchId, runToken, indexDir, outDir, watermarkMs,
      Seq("doc_id", "sig", "embedding", "nrm", "tnrm", "ts")) { (sims, horizon) =>
      // the in-batch pass runs over the whole cached batch, minus pairs
      // whose smaller id is a probe hit: a pair's verdict reads only its
      // two rows, so this is the pass over the batch minus its hits, and
      // the probe funnel is planned once instead of once per read of a
      // "batch minus hits" frame
      val hits = horizon.map(index => cosinePairs(sims, index, self = false)
        .select(col("id_a").as("doc_id")).distinct())
      val inBatch = cosinePairs(sims, sims, self = true)
      val inBatchDrop = hits.fold(inBatch)(h =>
        inBatch.join(h.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_anti"))
        .select(col("id_b").as("doc_id"))
      val survivors = sims.join(hits.fold(inBatchDrop)(inBatchDrop.union), Seq("doc_id"),
        "left_anti")
      (survivors.select(col("doc_id"), col("ts"), col("embedding")), survivors)
    }
  }
}
