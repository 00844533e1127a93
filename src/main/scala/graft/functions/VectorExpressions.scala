package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/sketch hot path.
  *
  * Spark's higher-order array functions (`transform`, `aggregate`,
  * `zip_with`) always run INTERPRETED — one closure invocation per
  * element — so a 64-dim dot product against 16 centroids costs ~1k
  * lambda dispatches per row, and a 256-bit sign sketch ~16k. At
  * kilobyte scale that's the measured bottleneck of the whole ANN
  * tier; at 100 TB it's fatal. These expressions run inside whole-stage
  * codegen instead (the "custom Expression with doGenCode beats a UDF
  * beats interpreted HOFs" rung of the extension ladder).
  *
  * One kernel per expression: each loop lives once, in [[Kernels]].
  * `nullSafeEval` calls it, and `doGenCode` emits one static call to the
  * same method, so the interpreted and the generated paths cannot
  * disagree. Child expressions stay in the generated code.
  */
object VectorExpressions {

  private val K = "graft.functions.Kernels$.MODULE$"

  /** The body every `doGenCode` emits: `ev.value` is the kernel call's
    * result. A kernel that can answer NULL (`orNull`) returns null for
    * it, boxed where the SQL type is primitive. */
  private def kernelCall(ctx: CodegenContext, ev: ExprCode, dt: DataType, call: String,
                         orNull: Boolean = true): String =
    if (!orNull) s"${ev.value} = $K.$call;"
    else {
      val r = ctx.freshName("r")
      s"""${CodeGenerator.boxedType(dt)} $r = $K.$call;
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
    }

  private def checkFloatArray(e: Expression, side: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"$side must be array<float|double>, got $other")
    }

  /** Whether a checked `array<float|double>` input holds floats. */
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** An expression over one `array<string>` column. */
  trait StringArrayInput extends UnaryExpression {
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"need array<string>, got $other")
    }
  }

  /** `vec_dot(a, b)` — Σ aᵢ·bᵢ, double accumulator, element order.
    * Null element poisons the result to null, and so does a LENGTH
    * MISMATCH — matching the `aggregate(zip_with(...))` fold it
    * replaces, where zip_with pads the shorter side with nulls and the
    * null poisons the fold. A silent min(len) dot would be a semantic
    * divergence the caller can't see. */
  case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "vec_dot"

    override def checkInputDataTypes(): TypeCheckResult =
      checkFloatArray(left, "left") match {
        case TypeCheckResult.TypeCheckSuccess => checkFloatArray(right, "right")
        case fail                             => fail
      }

    private lazy val leftFloat = isFloat(left)
    private lazy val rightFloat = isFloat(right)

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.dot(a.asInstanceOf[ArrayData], leftFloat, b.asInstanceOf[ArrayData], rightFloat)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        kernelCall(ctx, ev, dataType, s"dot($a, $leftFloat, $b, $rightFloat)"))

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `gated_vec_dot(a, b, bound)` — a LOSSLESS Cauchy–Schwarz-gated
    * dot product for threshold similarity joins: computes the dot over
    * the first `prefix` elements, and returns NULL (pair pruned) when
    * `prefixDot < bound`, where the caller derives `bound` so that no
    * pair that could clear its similarity cut is ever pruned:
    * `bound = cut·‖a‖·‖b‖ − ‖a_tail‖·‖b_tail‖` (Cauchy–Schwarz bounds
    * the tail's possible contribution by the tail-norm product; the
    * caller subtracts a small slack from `cut` to absorb fp rounding).
    * Survivors CONTINUE the same accumulator over the tail, so their
    * returned dot is BIT-IDENTICAL to [[VecDot]] (one kernel, which
    * `vec_dot` runs ungated) — the gate changes which rows pay the full
    * loop, never a value. On background pairs of a τ=0.95 dedup the
    * prefix rejects ≫99% after `prefix` madds instead of the full
    * dimension. Null elements / length mismatch poison to null exactly
    * like [[VecDot]] (the gate's null is indistinguishable, which is
    * fine: both mean "not a pair"). */
  case class GatedVecDot(left: Expression, right: Expression, gate: Expression,
                         prefix: Int)
      extends TernaryExpression {
    require(prefix > 0, s"prefix must be positive, got $prefix")
    override def first: Expression = left
    override def second: Expression = right
    override def third: Expression = gate
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "gated_vec_dot"

    override def checkInputDataTypes(): TypeCheckResult =
      checkFloatArray(left, "left") match {
        case TypeCheckResult.TypeCheckSuccess =>
          checkFloatArray(right, "right") match {
            case TypeCheckResult.TypeCheckSuccess => gate.dataType match {
              case DoubleType => TypeCheckResult.TypeCheckSuccess
              case other =>
                TypeCheckResult.TypeCheckFailure(s"gate must be double, got $other")
            }
            case fail => fail
          }
        case fail => fail
      }

    private lazy val leftFloat = isFloat(left)
    private lazy val rightFloat = isFloat(right)

    override def nullSafeEval(a: Any, b: Any, g: Any): Any =
      Kernels.gatedDot(a.asInstanceOf[ArrayData], leftFloat, b.asInstanceOf[ArrayData],
        rightFloat, prefix, g.asInstanceOf[Double])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b, g) =>
        kernelCall(ctx, ev, dataType, s"gatedDot($a, $leftFloat, $b, $rightFloat, $prefix, $g)"))

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(left = newFirst, right = newSecond, gate = newThird)
  }

  /** `pq_adc(codes, lut)` — asymmetric-distance computation, the inner
    * loop of an IVFPQ scan (Jégou et al. 2011 §IV): with a per-QUERY
    * lookup table `lut[s·k + c] = ⟨q_s, codeword_{s,c}⟩` already built,
    * a corpus vector's dot against the query reconstructs from its m
    * code bytes as Σ_s lut[s·k + codes[s]] — m table adds per pair
    * instead of a d-element dot (8 vs 64 here). The LUT build is
    * m·k·(d/m) = d·k madds ONCE per query; the scan then never touches
    * float vectors at all. Null codes / a code outside [0, k) poison
    * to null (the latter means the LUT and codebook disagree — a
    * caller bug that must surface, not read garbage). */
  case class PqAdc(codes: Expression, lut: Expression, k: Int)
      extends BinaryExpression {
    require(k > 0, s"codebook size must be positive, got $k")
    override def left: Expression = codes
    override def right: Expression = lut
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "pq_adc"

    override def checkInputDataTypes(): TypeCheckResult =
      (codes.dataType, lut.dataType) match {
        case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case other =>
          TypeCheckResult.TypeCheckFailure(
            s"need (array<int>, array<double>), got $other")
      }

    override def nullSafeEval(c: Any, l: Any): Any =
      Kernels.pqAdc(c.asInstanceOf[ArrayData], l.asInstanceOf[ArrayData], k)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, l) => kernelCall(ctx, ev, dataType, s"pqAdc($c, $l, $k)"))

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(codes = newLeft, lut = newRight)
  }

  /** `sign_sketch(emb)` — nBits sign-random-projection bits packed
    * into nBits/64 longs: bit p of word w is set iff
    * ⟨emb, signs[w·64+p]⟩ > 0 — same accumulation order as the HOF
    * fold it replaces. `signs` rows must have length ≥ dim. */
  case class SignSketch(child: Expression, signs: Seq[Seq[Double]])
      extends UnaryExpression {
    private val nBits = signs.length
    require(nBits > 0 && nBits % 64 == 0, s"nBits must be a positive multiple of 64, got $nBits")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "sign_sketch"
    override def checkInputDataTypes(): TypeCheckResult = checkFloatArray(child, "child")

    private lazy val childFloat = isFloat(child)
    @transient private lazy val mat: Array[Array[Double]] = signs.map(_.toArray).toArray

    override def nullSafeEval(a: Any): Any =
      Kernels.signSketch(a.asInstanceOf[ArrayData], childFloat, mat)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val matRef = ctx.addReferenceObj("signs", mat, "double[][]")
      nullSafeCodeGen(ctx, ev, a =>
        kernelCall(ctx, ev, dataType, s"signSketch($a, $childFloat, $matRef)"))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `nearest_centroids(emb)` — ids of the `n` centroids with highest
    * dot product against the row's embedding, as array<int>. Centroids
    * are expected unit-normalized by the caller (argmax dot = argmax
    * cosine). Ties break to the lower centroid id. O(k·d + k·n) per
    * row, all inside codegen — replaces a per-row interpreted
    * transform + struct array_sort. */
  case class NearestCentroids(child: Expression, cents: Seq[Seq[Double]], n: Int)
      extends UnaryExpression {
    private val k = cents.length
    require(n > 0 && n <= k, s"need 0 < n <= $k, got $n")

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "nearest_centroids"
    override def checkInputDataTypes(): TypeCheckResult = checkFloatArray(child, "child")

    private lazy val childFloat = isFloat(child)
    @transient private lazy val mat: Array[Array[Double]] = cents.map(_.toArray).toArray

    override def nullSafeEval(a: Any): Any =
      Kernels.nearestCentroids(a.asInstanceOf[ArrayData], childFloat, mat, n)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val matRef = ctx.addReferenceObj("cents", mat, "double[][]")
      nullSafeCodeGen(ctx, ev, a =>
        kernelCall(ctx, ev, dataType, s"nearestCentroids($a, $childFloat, $matRef, $n)"))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `simhash64(tokens)` — 64-bit SimHash over an array<string>: each
    * token's xxhash64 (seed 42, identical to SQL `xxhash64(tok)`)
    * votes +1/−1 per bit position; the sign of each counter becomes
    * the output bit. Word 0 of [[SimHashWide]] (one kernel). Matches
    * the interpreted aggregate-over-zip_with formulation bit for bit. */
  case class SimHash64(child: Expression) extends StringArrayInput {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override def nullSafeEval(a: Any): Any = Kernels.simhash64(a.asInstanceOf[ArrayData])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => kernelCall(ctx, ev, dataType, s"simhash64($a)"))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `simhash_md5(tokens)` — ENGINE-PORTABLE 60-bit SimHash over an
    * array<string>: each token hashes to the first 15 hex chars of its
    * md5 (= the first 8 digest bytes big-endian, shifted right 4 — 60
    * bits, positive in a signed long in every engine), tokens vote ±1
    * per bit, counter signs become the bits. Identical results to the
    * SQL formulation `conv(substring(md5(tok),1,15),16,10)` per token
    * and to DuckDB's `('0x'||substr(md5(tok),1,15))::BIGINT`, so a
    * DuckDB oracle replays the signature exactly — while the kernel
    * keeps the per-row cost at one md5 + 60 bit-tests per token
    * instead of the interpreted HOF fold's 60·|tokens| lambda
    * dispatches. [[SimHash64]] (xxhash64, no md5 cost) remains the
    * non-oracle scale signature. */
  case class SimHashMd5(child: Expression) extends StringArrayInput {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash_md5"

    override def nullSafeEval(a: Any): Any = Kernels.sig60(a.asInstanceOf[ArrayData])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => kernelCall(ctx, ev, dataType, s"sig60($a)"))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `simhash_wide(tokens, words)` — a words×64-bit SimHash over an
    * array<string>, as array<bigint>: word w votes with an independent
    * xxhash64 seed (42 + w), so the signature is `words` independent
    * 64-bit SimHashes side by side (word 0 ≡ [[SimHash64]]). This is
    * the scale lever the 64-bit operator's doc names: near-dup bits
    * scale with signature width (E[ham] = nBits·p), so a WIDER
    * signature supports wider bands at the same pigeonhole-guaranteed
    * Hamming bar — 128 bits give 4×32-bit bands at ham ≤ 3, collapsing
    * the random band-collision term from n²·2⁻¹⁶ to n²·2⁻³², which
    * stays sub-linear past 10⁹ docs. 64·words vote counters per row. */
  case class SimHashWide(child: Expression, words: Int) extends StringArrayInput {
    require(words >= 1 && words <= 8, s"need 1 <= words <= 8, got $words")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "simhash_wide"

    override def nullSafeEval(a: Any): Any = Kernels.simhashWide(a.asInstanceOf[ArrayData], words)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => kernelCall(ctx, ev, dataType, s"simhashWide($a, $words)"))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `minhash_sig(tokens)` — nPerms-permutation MinHash signature over
    * a string-set column: sig[p] = min over elements of xxhash64 with
    * seed p (each seed is an independent permutation of the shingle
    * universe). P(sig_a[p] == sig_b[p]) = Jaccard(a, b), the classic
    * estimator. Null for an empty array (no shingles → no signature).
    * |tokens|·nPerms hashes per row. */
  case class MinHashSig(child: Expression, nPerms: Int) extends StringArrayInput {
    require(nPerms > 0, s"need nPerms > 0, got $nPerms")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig"

    override def nullSafeEval(a: Any): Any = Kernels.minhashSig(a.asInstanceOf[ArrayData], nPerms)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => kernelCall(ctx, ev, dataType, s"minhashSig($a, $nPerms)"))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `minhash_sig_md5(tokens, nPerms)` — ENGINE-PORTABLE MinHash
    * signature: each element hashes ONCE with md5, the digest's two
    * 60-bit halves (hex chars 1–15 and 17–31) reduced mod P = 2³¹−1
    * seed Kirsch–Mitzenmacher permutations `perm_i = (a + i·b) mod P`
    * (every intermediate ≤ 2³⁵ — safe under engines with CHECKED
    * 64-bit arithmetic, e.g. a DuckDB oracle). Value-identical to the
    * SQL formulation over `conv(substring(md5(s),...),16,10)`, which
    * Catalyst's CollapseProject would otherwise re-evaluate md5 once
    * PER PERM (measured 103 s vs ~30 s at 1M docs) — the kernel pays
    * one md5 + nPerms add-mul-mods per element. */
  case class MinHashSigMd5(child: Expression, nPerms: Int) extends StringArrayInput {
    require(nPerms > 0, s"need nPerms > 0, got $nPerms")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig_md5"

    override def nullSafeEval(a: Any): Any =
      Kernels.minhashSigMd5(a.asInstanceOf[ArrayData], nPerms)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => kernelCall(ctx, ev, dataType, s"minhashSigMd5($a, $nPerms)"))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `simhash_md5_wide(tokens)` — ENGINE-PORTABLE wide SimHash as
    * `array<bigint>` of 2 × 60-bit words: the md5 digest's two halves
    * vote as independent hash functions, so one md5 per token buys a
    * 120-bit signature. Wide signatures unlock 32-bit bands (random
    * band collisions at ~2⁻²⁸ even on the 28-effective-bit high
    * bands) — see [[graft.operators.Documents.simhashPairsWide]]'s
    * regime notes. Value-identical to the per-half SQL formulation,
    * so a DuckDB oracle replays it exactly. */
  case class SimHashMd5Wide(child: Expression) extends StringArrayInput {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "simhash_md5_wide"

    override def nullSafeEval(a: Any): Any = Kernels.sig60Wide(a.asInstanceOf[ArrayData])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => kernelCall(ctx, ev, dataType, s"sig60Wide($a)"))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `mode_count(arr)` — multiplicity of the most frequent element of
    * a string array (0 for empty, null for null input or a null
    * element). One hash-map pass per row — O(n) against the
    * O(n log n) `aggregate(array_sort(...))` run-length fold it
    * replaces, and codegen'd where the fold ran interpreted (one lambda
    * dispatch per element). The per-doc statistic behind the Gopher
    * top-n-gram repetition filter. */
  case class ModeCount(child: Expression) extends StringArrayInput {
    override def dataType: DataType = LongType
    override def prettyName: String = "mode_count"

    override def nullSafeEval(a: Any): Any = Kernels.modeCount(a.asInstanceOf[ArrayData])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => kernelCall(ctx, ev, dataType, s"modeCount($a)"))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `shingle_hash64(tokens, k, distinct)` — the hashed word-k-gram
    * stream in ONE codegen'd pass: per row, every window of k
    * consecutive tokens joined by a single space and xxhash64-hashed
    * (seed 42 — identical values to `xxhash64(concat(tᵢ,' ',tᵢ₊₁,…))`),
    * optionally de-duplicated on the GRAM STRING first
    * (array_distinct's first-occurrence semantics). Replaces the
    * interpreted `zip_with(slice(...),...concat)` + `array_distinct` +
    * `explode` + `xxhash64` chain that built every gram as a Java
    * string through per-element lambda dispatch — the measured hot
    * path of the whole shingle family (one 860 ms single-core pass
    * over the 5k-doc corpus). Null-token windows mirror the chain
    * exactly: `concat` nulls the gram, and Spark's hash expressions
    * map a null input to the seed, so the element comes out 42L (one
    * such element under distinct, like array_distinct's single null).
    * Fewer than k tokens → empty array (the CASE WHEN arm). */
  case class ShingleHash64(child: Expression, k: Int, distinct: Boolean)
      extends StringArrayInput {
    require(k >= 1 && k <= 16, s"need 1 <= k <= 16, got $k")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hash64"

    override def nullSafeEval(a: Any): Any =
      Kernels.grams(a.asInstanceOf[ArrayData], k, distinct)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        kernelCall(ctx, ev, dataType, s"grams($a, $k, $distinct)", orNull = false))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `md5_prefix60(s)` — the house engine-portable 60-bit hash of one
    * STRING as a positive BIGINT, in one codegen'd pass over the UTF-8
    * bytes: the first 8 md5 digest bytes big-endian, shifted right 4 —
    * value-identical to the SQL chain
    * `CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)` (and to
    * DuckDB's `('0x' || substr(md5(s), 1, 15))::BIGINT`), which
    * materializes a 32-char hex STRING, copies a 15-char substring,
    * parses it base-16 into a DECIMAL STRING and re-parses that to a
    * long — four string round-trips per evaluation. Per-token callers
    * (the DSIR bucketing, the bucketed quality model) pay this once
    * per token INSTANCE, which made the string round-trips ~60% of
    * corpus_dsir's CPU. Same digest kernel as [[SimHashMd5]] /
    * [[MinHashSigMd5]] ([[Kernels.tokenHash60]]), so the hash family
    * stays the single oracle-replayable recipe. */
  case class Md5Prefix60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "md5_prefix60"

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"need string, got $other")
    }

    override def nullSafeEval(s: Any): Any = Kernels.tokenHash60(s.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        kernelCall(ctx, ev, dataType, s"tokenHash60($s)", orNull = false))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `shingle_grams(tokens, k, distinct)` — the gram-STRING sibling of
    * [[ShingleHash64]] for consumers that need the grams themselves
    * (boilerplate top-k shows them; the MinHash signatures digest
    * their md5): every window of k consecutive tokens joined by a
    * single space in ONE codegen'd pass, optionally de-duplicated
    * first-occurrence — value-identical to the interpreted
    * `CASE WHEN size(t) >= k THEN array_distinct(zip_with(slice…))
    * ELSE array() END` chain it replaces (null-token windows null the
    * gram exactly like `concat`; fewer than k tokens → empty array;
    * null input → null, so callers that relied on the CASE's
    * `size(null)` → else-arm wrap it in coalesce(…, array())). */
  case class ShingleGrams(child: Expression, k: Int, distinct: Boolean)
      extends StringArrayInput {
    require(k >= 1 && k <= 16, s"need 1 <= k <= 16, got $k")
    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    override def prettyName: String = "shingle_grams"

    override def nullSafeEval(a: Any): Any =
      Kernels.gramStrings(a.asInstanceOf[ArrayData], k, distinct)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        kernelCall(ctx, ev, dataType, s"gramStrings($a, $k, $distinct)", orNull = false))

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ---- Column-API entry points ----

  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def gatedVecDot(a: Column, b: Column, gate: Column, prefix: Int = 16): Column =
    ColumnBridge.column(GatedVecDot(ColumnBridge.expression(a),
      ColumnBridge.expression(b), ColumnBridge.expression(gate), prefix))

  def pqAdc(codes: Column, lut: Column, k: Int): Column =
    ColumnBridge.column(PqAdc(ColumnBridge.expression(codes),
      ColumnBridge.expression(lut), k))

  def signSketch(emb: Column, signs: Seq[Seq[Double]]): Column =
    ColumnBridge.column(SignSketch(ColumnBridge.expression(emb), signs))

  def nearestCentroids(emb: Column, cents: Seq[Seq[Double]], n: Int): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(emb), cents, n))

  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  def simhashMd5(tokens: Column): Column =
    ColumnBridge.column(SimHashMd5(ColumnBridge.expression(tokens)))

  def simhashWide(tokens: Column, words: Int): Column =
    ColumnBridge.column(SimHashWide(ColumnBridge.expression(tokens), words))

  def minhashSig(tokens: Column, nPerms: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(tokens), nPerms))

  def minhashSigMd5(tokens: Column, nPerms: Int): Column =
    ColumnBridge.column(MinHashSigMd5(ColumnBridge.expression(tokens), nPerms))

  def simhashMd5Wide(tokens: Column): Column =
    ColumnBridge.column(SimHashMd5Wide(ColumnBridge.expression(tokens)))

  def modeCount(arr: Column): Column =
    ColumnBridge.column(ModeCount(ColumnBridge.expression(arr)))

  def shingleHash64(tokens: Column, k: Int, distinct: Boolean): Column =
    ColumnBridge.column(ShingleHash64(ColumnBridge.expression(tokens), k, distinct))

  def shingleGrams(tokens: Column, k: Int, distinct: Boolean): Column =
    ColumnBridge.column(ShingleGrams(ColumnBridge.expression(tokens), k, distinct))

  def md5Prefix60(s: Column): Column =
    ColumnBridge.column(Md5Prefix60(ColumnBridge.expression(s)))
}

