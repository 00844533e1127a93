package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Embeddings
import graft.functions.VectorExpressions

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
  *  1. signature — the codegen'd [[VectorExpressions.SignSketch]]
  *     over the embedding, plus the vector's norm and post-prefix
  *     tail norm (computed ONCE per vector here, so the quadratic
  *     verify stage below never recomputes them — the
  *     [[Embeddings.semanticDupPairs]] lesson);
  *  2. probe — band-equality join of batch signatures against the
  *     STANDING index (16-bit bands, 4 per signature word), a
  *     full-signature Hamming gate at the threshold angle's
  *     E[ham]+3σ, then the EXACT cosine on the survivors via the
  *     codegen'd Cauchy–Schwarz-gated dot ([[VectorExpressions
  *     .GatedVecDot]] — lossless: the gate only skips pairs whose
  *     prefix dot plus best-possible tail cannot reach the cut).
  *     Cost per batch is O(|batch| + band collisions), never a
  *     corpus self-join;
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

  private val Prefix = 16 // gated-dot prefix, matches semanticDupPairs

  /** Input stream columns: `doc_id` (long), `ts` (timestamp),
    * `embedding` (array<float>, dim ≤ 64 — the signature matrix
    * bound). `bandBits` fixes the band width (the batch operator's
    * auto-sizing needs a corpus count, which a stream doesn't have —
    * pick ⌈log₂ n⌉+6 for the EXPECTED standing-index size; 16 covers
    * ~1M vectors per horizon). */
  def ingestEmbedDedup(vecs: DataFrame, indexDir: String, outDir: String,
                       checkpointDir: String, simThreshold: Double = 0.95,
                       bandBits: Int = 16,
                       watermarkMs: Long = 2L * 3600 * 1000): StreamingQuery =
    ReplaySafeBatch.start(vecs, checkpointDir) { (batch, batchId, token) =>
      processBatch(batch, batchId, token, indexDir, outDir, simThreshold, bandBits,
        watermarkMs)
    }

  /** The per-micro-batch body, callable directly so specs can REPLAY a
    * committed batchId (the [[LeakageIngest.processBatch]] pattern). */
  private[graft] def processBatch(batch: DataFrame, batchId: Long, runToken: String,
                                  indexDir: String, outDir: String,
                                  simThreshold: Double, bandBits: Int,
                                  watermarkMs: Long): Unit = {
    val nBits = sigBits(bandBits)
    val tail = slice(col("embedding"), lit(Prefix + 1),
      greatest(size(col("embedding")) - lit(Prefix), lit(0)))
    // one row per doc_id (the PhashIngest lesson: equal ids never pair
    // under the strict in-batch ordering, so a double delivery would
    // survive twice); norms once per vector, not once per pair
    val signed = batch.select(col("doc_id"), col("ts"), col("embedding"))
      .dropDuplicates("doc_id")
      .select(col("doc_id"), col("ts"), col("embedding"),
        Embeddings.signatureCol(nBits).as("sig"),
        Embeddings.normCol("embedding").as("nrm"),
        sqrt(VectorExpressions.vecDot(tail, tail)).as("tnrm"))
    ReplaySafeBatch.process(signed, batchId, runToken, indexDir, outDir, watermarkMs,
      Seq("doc_id", "sig", "embedding", "nrm", "tnrm", "ts")) { (sims, horizon) =>
      val afterProbe = horizon.fold(sims) { index =>
        val dup = cosinePairs(sims, index, self = false, simThreshold, bandBits)
          .select(col("id_a").as("doc_id")).distinct()
        sims.join(dup, Seq("doc_id"), "left_anti")
      }
      val inBatchDrop = cosinePairs(afterProbe, afterProbe, self = true,
        simThreshold, bandBits)
        .select(col("id_b").as("doc_id")).distinct()
      val survivors = afterProbe.join(inBatchDrop, Seq("doc_id"), "left_anti")
      (survivors.select(col("doc_id"), col("ts"), col("embedding")), survivors)
    }
  }

  /** Signature width for a band layout: 4 bands of `bandBits`, packed
    * into 64-bit words — the same packing as the batch
    * [[Embeddings.embedCosinePairs]]. */
  private def sigBits(bandBits: Int): Int = {
    val perWord = 64 / bandBits
    ((4 + perWord - 1) / perWord) * 64
  }

  /** The band → Hamming gate → gated-exact-cosine funnel between two
    * signature frames (columns doc_id, sig, embedding, nrm, tnrm).
    * `self = true` runs the strict id_a < id_b in-batch pass; `false`
    * probes frame `a` (the batch) against `b` (the standing index) in
    * both id orders. Returns (id_a, id_b, sim ≥ simThreshold). */
  private def cosinePairs(aF: DataFrame, bF: DataFrame, self: Boolean,
                          simThreshold: Double, bandBits: Int): DataFrame = {
    val perWord = 64 / bandBits
    val nBits = sigBits(bandBits)
    val words = nBits / 64
    val mask = (1L << bandBits) - 1
    def banded(df: DataFrame): DataFrame = {
      val bandCols = (0 until 4).map { i =>
        struct(lit(i).as("band"),
          shiftright(col("sig").getItem(i / perWord), (i % perWord) * bandBits)
            .bitwiseAND(lit(mask)).as("v"))
      }
      df.select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bv"))
    }
    // full-signature Hamming gate at the threshold angle's E[ham]+3σ —
    // random far pairs that clear one band collapse here, before any
    // embedding is joined (the batch operator's measured funnel)
    val theta = math.acos(simThreshold)
    val p = theta / math.Pi
    val maxHam = math.ceil(nBits * p + 3 * math.sqrt(nBits * p * (1 - p))).toInt
    val ham: Column = (0 until words)
      .map(w => bit_count(col("a.sig").getItem(w).bitwiseXOR(col("b.sig").getItem(w))))
      .reduce(_ + _)
    val idCond =
      if (self) col("a.doc_id") < col("b.doc_id")
      else lit(true) // cross frames are disjoint sets by construction
    val cands = banded(aF).as("a")
      .join(banded(bF).as("b"), col("a.bv") === col("b.bv") && idCond)
      .filter(ham <= maxHam)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val ea = aF.select(col("doc_id").as("id_a"), col("embedding").as("ea"),
      col("nrm").as("na"), col("tnrm").as("ta"))
    val eb = bF.select(col("doc_id").as("id_b"), col("embedding").as("eb"),
      col("nrm").as("nb"), col("tnrm").as("tb"))
    // exact verify via the Cauchy–Schwarz-gated dot: a pair is pruned
    // after `Prefix` madds unless prefixDot + ta·tb could still reach
    // (τ−1e-5)·na·nb — lossless (the slack covers the 6-decimal
    // round's half-ulp), survivors return the same element-ascending
    // dot as the ungated loop
    cands.join(ea, "id_a").join(eb, "id_b")
      .select(col("id_a"), col("id_b"), col("na"), col("nb"),
        VectorExpressions.gatedVecDot(col("ea"), col("eb"),
          lit(simThreshold - 1e-5) * col("na") * col("nb") -
            col("ta") * col("tb"), Prefix).as("dp"))
      .filter(col("dp").isNotNull)
      .select(col("id_a"), col("id_b"),
        round(col("dp") / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= simThreshold)
  }
}
