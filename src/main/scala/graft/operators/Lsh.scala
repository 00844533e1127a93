package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.VectorExpressions

/** The one LSH candidate join under every near-duplicate path — text
  * and media SimHash pairs, the wide SimHash, both MinHash variants,
  * fuzzy decontamination, embedding-cosine pairs and the streaming
  * probes: band each signature, equi-join on (band, value), optionally
  * gate on the full-signature Hamming distance, `distinct`, then
  * verify exactly. Only band collisions ever shuffle, never all pairs.
  *
  * Band width. A random far pair collides in a b-bit band at 2⁻ᵇ, so
  * the false-candidate volume is n²·bands·2⁻ᵇ: wider bands shrink the
  * quadratic term exponentially. A pair at Hamming h differs in at
  * most h of the (disjoint) bands, so bands ≥ h + 1 pigeonhole-
  * GUARANTEE that one band matches — recall 1 up to h. On a fixed
  * signature width the two pull against each other:
  *  - a Hamming bar ([[pigeonholeBits]]) takes the widest 8/16/32 band
  *    whose band count still guarantees the bar (64-bit SimHash:
  *    h ≤ 1 → 32, ≤ 3 → 16, the classic 4-band layout, ≤ 7 → 8), and
  *    8-bit bands (probabilistic recall, like the MinHash bands) when
  *    even 8 bands can't. The width canNOT grow with log₂(corpus) at a
  *    fixed signature: past the scale where 16-bit bands' n²·2⁻¹⁶ term
  *    rivals linear work (~2M docs at h = 3) the lever is a wider
  *    signature. Width alone does not shrink that term either — per-bit
  *    Hamming bars scale with width (ham ≤ 3 on 64 bits ≈ ham ≤ 6-7 on
  *    128), so guaranteed configurations need proportionally more
  *    bands. Its value is the 32-bit-band regime: 4 bands at 2⁻³²
  *    (collision-free at any realistic corpus), guaranteed to ham ≤ 3
  *    and probabilistic above (strong for long documents with small
  *    edits; BIGBENCH.md round 6 measures the wide signature
  *    overtaking the 64-bit one between 4M and 10M docs);
  *  - a cosine bar fixes 4 bands and grows the band with ⌈log₂ n⌉
  *    ([[Embeddings.autoCosineBandBits]]), packing as many sketch words
  *    as the width needs — recall is kept by the signature, never by
  *    shrinking the band count. */
object Lsh {

  /** How a signature splits into bands. `bands(word)` builds the array
    * of `struct(band, …)` values from the signature's elements (`word(i)`
    * is element i; a bigint signature is its own one element); two rows
    * are candidates iff some struct is equal. `words` is how many
    * elements the bands read — the span the Hamming gate sums over. */
  sealed trait Layout {
    def words: Int
    def bands(word: Int => Column): Column
  }

  /** `count` bands of `bits` bits over 64-bit words, packed `64 / bits`
    * per word: band i is `shiftright(sig[i / perWord], (i % perWord) ·
    * bits) & mask`. Covers the 64-bit SimHash (one word), the wide
    * SimHash (one word per 64 bits) and the 4-band cosine sketch,
    * including widths such as 20 that do not divide 64 (each word's
    * top bits stay unbanded; bands stay disjoint, so pigeonhole holds). */
  final case class BitBands(bits: Int, count: Int) extends Layout {
    require(bits >= 8 && bits <= 32, s"bandBits must be 8..32, got $bits")
    private val perWord = 64 / bits
    val words: Int = (count + perWord - 1) / perWord
    def bands(word: Int => Column): Column = array((0 until count).map { i =>
      struct(lit(i).as("band"),
        shiftright(word(i / perWord), (i % perWord) * bits)
          .bitwiseAND(lit((1L << bits) - 1)).as("v"))
    }: _*)
  }

  object BitBands {
    /** Every whole band that fits in `words` 64-bit words. */
    def over(words: Int, bits: Int): BitBands = BitBands(bits, words * (64 / bits))
  }

  /** MinHash rows-per-band: band i is `struct(sig[2i], sig[2i+1])`, so a
    * pair collides in a band with P = J² — far pairs (J ≈ 0.05) survive
    * a band at 0.25% while J ≥ 0.6 pairs are caught by ≥ 1 of 8 bands
    * with P ≈ 0.97. */
  final case class RowBands(count: Int) extends Layout {
    val words: Int = 2 * count
    def bands(word: Int => Column): Column = array((0 until count).map { i =>
      struct(lit(i).as("band"), word(2 * i).as("h1"), word(2 * i + 1).as("h2"))
    }: _*)
  }

  /** Widest 8/16/32-bit band whose `nBits / bits` bands still
    * pigeonhole-guarantee recall at `maxHamming`; 8 when none can. */
  def pigeonholeBits(nBits: Int, maxHamming: Int): Int =
    Seq(32, 16, 8).find(w => nBits / w >= maxHamming + 1).getOrElse(8)

  /** Candidate pairs `(out._1, out._2)` between the `(id, sig)` rows of
    * `a` and `b`, distinct.
    *
    *  - `self`: `a` and `b` are one frame, banded once and joined with
    *    `a.id < b.id` (both sides read one band frame, so a shuffled
    *    join reuses its exchange). Otherwise `b` is another frame
    *    (a standing index, an eval suite), joined on the band alone;
    *    `measuredBroadcast` sends its band rows through
    *    [[Ops.broadcastIfFits]].
    *  - `maxHamming`: the full-signature Hamming gate, before the
    *    `distinct` — at 1M docs 16-bit bands admit ~30M random
    *    candidates, and distinct-ing them cost more than the rest of
    *    the query; the gate drops them map-side first. The pairs then
    *    carry their `hamming`.
    *  - `slim`: band rows carry only the id, and the signatures
    *    re-attach to the candidate stream for the gate — for the
    *    corpus-scale self-join whose band shuffle is the cost (a 2-word
    *    signature through the explode doubled the shuffle bytes, and at
    *    100M vectors the two sides' shuffle files alone outgrew the
    *    disk, round 15); candidates are orders below corpus×bands. */
  def candidates(a: DataFrame, b: DataFrame, layout: Layout, self: Boolean,
                 out: (String, String), id: String = "doc_id", sig: String = "sig",
                 maxHamming: Option[Int] = None, slim: Boolean = false,
                 measuredBroadcast: Boolean = false): DataFrame = {
    require(!self || (a eq b), "self mode joins one frame with itself")
    val scalar = a.schema(sig).dataType == LongType
    def word(c: Column)(w: Int): Column = if (scalar) c else c.getItem(w)
    val carry = maxHamming.isDefined && !slim
    def banded(df: DataFrame): DataFrame = df.select(
      Seq(col(id)) ++ (if (carry) Seq(col(sig)) else Nil) :+
        explode(layout.bands(word(col(sig)))).as("bv"): _*)
    val bandA = banded(a)
    val bandB =
      if (self) bandA
      else if (measuredBroadcast) Ops.broadcastIfFits(banded(b))
      else banded(b)
    val ids = Seq(col(s"a.$id").as(out._1), col(s"b.$id").as(out._2))
    val joined = bandA.as("a").join(bandB.as("b"),
      col("a.bv") === col("b.bv") && (if (self) col(s"a.$id") < col(s"b.$id") else lit(true)))
    maxHamming.fold(joined.select(ids: _*)) { h =>
      val ham = (0 until layout.words)
        .map(w => bit_count(word(col(s"a.$sig"))(w).bitwiseXOR(word(col(s"b.$sig"))(w))))
        .reduce(_ + _).as("hamming")
      val pairs =
        if (carry) joined.select(ids :+ ham: _*)
        else joined.select(ids: _*)
          .join(a.select(col(id).as(out._1), col(sig)).as("a"), out._1)
          .join(b.select(col(id).as(out._2), col(sig)).as("b"), out._2)
          .select(col(out._1), col(out._2), ham)
      pairs.filter(col("hamming") <= h)
    }.distinct()
  }

  /** Exact shingle-Jaccard verify of MinHash candidates: the first two
    * columns of `cands` are ids of `left` and `right` docs. Precision
    * 1.0 at `simThreshold`, so the estimator error never reaches the
    * output. The candidate set is persisted (tiny, band-bounded, read
    * three times) and ONLY candidate docs are re-shingled — a broadcast
    * semi-join on doc_id first, so the tokenizer runs on the candidate
    * subset and the fat shingle arrays are never persisted or shuffled
    * (at 4M docs ~3.6 GB of string arrays, whose sort-merge verify cost
    * 10× the whole query); everything small then joins broadcast.
    * Returns (l, r, jaccard), ordered by the ids. */
  def jaccardVerified(cands: DataFrame, left: DataFrame, right: DataFrame,
                      simThreshold: Double): DataFrame = {
    val Seq(l, r) = cands.columns.toSeq.take(2)
    val cached = graft.Caches.persist(cands)
    def candSh(docs: DataFrame, side: String): DataFrame =
      Documents.shingleArray(docs.join(
        broadcast(cached.select(col(side).as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi"))
        .select(col("doc_id").as(side), col("sh").as(s"sh_$side"))
    val (shL, shR) = (col(s"sh_$l"), col(s"sh_$r"))
    cached
      .join(broadcast(candSh(left, l)), l)
      .join(broadcast(candSh(right, r)), r)
      .select(col(l), col(r),
        Ops.r4(size(array_intersect(shL, shR)).cast("double") / size(array_union(shL, shR)))
          .as("jaccard"))
      .filter(col("jaccard") >= simThreshold)
      .orderBy(l, r)
  }

  /** Sign-sketch Hamming bar for a cosine threshold: the threshold
    * angle's E[ham] + 3σ over `nBits` (E[ham] = nBits·θ/π), while a
    * random pair (E[ham] = nBits/2) passes at P ≈ 1e-5. At 16-bit
    * bands a random far pair clears a band at P ≈ 6e-5 — at 1M vectors
    * ~30M false candidates, and joining embeddings for them (measured:
    * 838 s) was the query cost; the gate collapses them first. */
  def cosineMaxHamming(nBits: Int, simThreshold: Double): Int = {
    val p = math.acos(simThreshold) / math.Pi
    math.ceil(nBits * p + 3 * math.sqrt(nBits * p * (1 - p))).toInt
  }

  /** Elements the Cauchy–Schwarz-gated dot sums before it may prune. */
  private val Prefix = 16

  /** `nrm` and `tnrm` (the norm of `embedding`'s elements after the
    * gate prefix) — computed once per vector, so the pair stage never
    * recomputes them. */
  def norms: Seq[Column] = {
    val tail = slice(col("embedding"), lit(Prefix + 1),
      greatest(size(col("embedding")) - lit(Prefix), lit(0)))
    Seq(Embeddings.normCol("embedding").as("nrm"),
      sqrt(VectorExpressions.vecDot(tail, tail)).as("tnrm"))
  }

  /** The `(id, embedding, nrm, tnrm)` rows of `df` as side `s` ("a" or
    * "b") of [[gatedCosine]], the id renamed `to`, plus `keep`. */
  def cosineSide(df: DataFrame, id: String, to: String, s: String, keep: String*): DataFrame =
    df.select(keep.map(col) ++ Seq(col(id).as(to), col("embedding").as(s"e$s"),
      col("nrm").as(s"n$s"), col("tnrm").as(s"t$s")): _*)

  /** Exact cosine `sim ≥ simThreshold` over pair rows `(l, r)` carrying
    * both [[cosineSide]]s, via the codegen'd Cauchy–Schwarz-gated dot
    * ([[VectorExpressions.GatedVecDot]]): a pair is pruned after
    * `Prefix` madds unless the prefix dot plus the largest tail term
    * Cauchy–Schwarz allows (ta·tb) could still reach (τ − 1e-5)·na·nb.
    * Lossless: the slack strictly covers the 6-decimal round's
    * half-ulp (5e-7) plus fp noise, and survivors return the same
    * element-ascending dot as the ungated loop — identical sims,
    * identical rows (PropertySpec). Returns (l, r, sim). */
  def gatedCosine(pairs: DataFrame, l: String, r: String, simThreshold: Double): DataFrame =
    pairs.select(col(l), col(r), col("na"), col("nb"),
        VectorExpressions.gatedVecDot(col("ea"), col("eb"),
          lit(simThreshold - 1e-5) * col("na") * col("nb") - col("ta") * col("tb"),
          Prefix).as("dp"))
      .filter(col("dp").isNotNull)
      .select(col(l), col(r), round(col("dp") / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= simThreshold)

  /** [[gatedCosine]] of candidate pairs: the first two columns of
    * `cands` are `id`s of `a` and `b`, whose rows carry `embedding`,
    * `nrm` and `tnrm`. */
  def cosineVerified(cands: DataFrame, a: DataFrame, b: DataFrame, id: String,
                     simThreshold: Double): DataFrame = {
    val Seq(l, r) = cands.columns.toSeq.take(2)
    gatedCosine(cands.join(cosineSide(a, id, l, "a"), l).join(cosineSide(b, id, r, "b"), r),
      l, r, simThreshold)
  }
}
