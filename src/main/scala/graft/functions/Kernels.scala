package graft.functions

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The one copy of every native expression's loop. Each
  * [[VectorExpressions]] expression's `nullSafeEval` calls its kernel
  * here, and its `doGenCode` emits one call to the same method, so the
  * interpreted and the generated paths run the same code. Top-level, so
  * generated Java names it `graft.functions.Kernels$.MODULE$`.
  *
  * Conventions: inputs are non-null (the expressions' null-safe eval
  * answers a null input). A kernel that can answer NULL returns a
  * reference, boxed where the SQL type is primitive, and `null` means
  * NULL. An `isFloat` flag says whether an `array<float|double>` holds
  * floats; the expression fixes it from its input type.
  *
  * Numeric parity: every dot accumulates a `double` sequentially in
  * element order — bit-identical to the `aggregate(zip_with(...))` fold
  * the expressions replace and to the DuckDB oracle's `list_sum` fold,
  * so oracle hash checks are unaffected.
  */
object Kernels {

  // ---- float/double vectors ----

  // The flag is fixed for the whole call, so this is a loop-invariant
  // test that the JIT can hoist out of the callers' loops.
  @inline private def at(ad: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) ad.getFloat(i).toDouble else ad.getDouble(i)

  /** The row as a primitive `double[]`, or null if an element is null. */
  def toDoubles(ad: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = ad.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return null
      v(i) = at(ad, isFloat, i)
      i += 1
    }
    v
  }

  /** Σ vᵢ·rowᵢ over v's length; `row` must be at least as long. */
  private def rowDot(v: Array[Double], row: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * row(i); i += 1 }
    acc
  }

  /** [[VectorExpressions.VecDot]]: [[gatedDot]] with no gate. */
  def dot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): java.lang.Double =
    gatedDot(a, aFloat, b, bFloat, 0, Double.NegativeInfinity)

  /** [[VectorExpressions.GatedVecDot]]: Σ aᵢ·bᵢ in element order; null
    * on a length mismatch, on a null element, or when the dot over the
    * first `prefix` elements is below `gate`. Each of the three alone
    * makes the result null, so the order they are found in does not
    * matter. */
  def gatedDot(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean,
               prefix: Int, gate: Double): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    val p = math.min(prefix, n)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (i == p && acc < gate) return null
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += at(a, aFloat, i) * at(b, bFloat, i)
      i += 1
    }
    if (p == n && acc < gate) null else acc
  }

  /** [[VectorExpressions.PqAdc]]: Σ_s lut[s·k + codes[s]]; null when
    * the LUT is not m·k long, or a code is null or outside [0, k), or
    * the entry it picks is null. */
  def pqAdc(codes: ArrayData, lut: ArrayData, k: Int): java.lang.Double = {
    val m = codes.numElements()
    if (lut.numElements() != m * k) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) return null
      val code = codes.getInt(s)
      if (code < 0 || code >= k || lut.isNullAt(s * k + code)) return null
      acc += lut.getDouble(s * k + code)
      s += 1
    }
    acc
  }

  // Sign sketch and nearest centroids copy the row to a primitive
  // double[] once, then run one contiguous dot per matrix row. The naive
  // element-outer/row-inner order walks a k-row stride per element and
  // mixes an ArrayData accessor call into the inner loop that the JIT
  // can't vectorize; row-major loops over two plain double[]s are
  // SIMD-able and measured ~4× faster at k=1025, d=64. Each row's sum
  // still accumulates element-ascending, so the output is bit-identical.

  /** [[VectorExpressions.SignSketch]]: bit p of word p/64 is set iff
    * ⟨v, signs(p)⟩ > 0. */
  def signSketch(ad: ArrayData, isFloat: Boolean, signs: Array[Array[Double]]): GenericArrayData = {
    val v = toDoubles(ad, isFloat)
    if (v == null) return null
    val words = new Array[Long](signs.length / 64)
    var p = 0
    while (p < signs.length) {
      if (rowDot(v, signs(p)) > 0) words(p >> 6) |= 1L << (p & 63)
      p += 1
    }
    new GenericArrayData(words)
  }

  /** [[VectorExpressions.NearestCentroids]]: the ids of the `n` rows of
    * `cents` with the highest dot against v, best first, ties to the
    * lower id. */
  def nearestCentroids(ad: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
                       n: Int): GenericArrayData = {
    val v = toDoubles(ad, isFloat)
    if (v == null) return null
    val k = cents.length
    val sims = new Array[Double](k)
    var c = 0
    while (c < k) { sims(c) = rowDot(v, cents(c)); c += 1 }
    val out = new Array[Int](n)
    val used = new Array[Boolean](k)
    var r = 0
    while (r < n) {
      var best = -1
      c = 0
      while (c < k) {
        if (!used(c) && (best < 0 || sims(c) > sims(best))) best = c
        c += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  // ---- token arrays: SimHash votes, MinHash, mode ----

  /** Adds the low `bits` bits of h to the counters at `off` as ±1 votes. */
  private def vote(cnt: Array[Int], off: Int, h: Long, bits: Int): Unit = {
    var p = 0
    while (p < bits) { cnt(off + p) += (if (((h >>> p) & 1L) == 1L) 1 else -1); p += 1 }
  }

  /** `words` words of `bits` bits: bit p of word w is set iff counter
    * w·bits + p is positive. */
  private def pack(cnt: Array[Int], words: Int, bits: Int): Array[Long] = {
    val out = new Array[Long](words)
    var c = 0
    while (c < words * bits) { if (cnt(c) > 0) out(c / bits) |= 1L << (c % bits); c += 1 }
    out
  }

  /** `words` 64-bit SimHashes side by side; word w votes with xxhash64
    * seed 42 + w. Null iff an element is null. */
  private def xxSimHash(ad: ArrayData, words: Int): Array[Long] = {
    val n = ad.numElements()
    val cnt = new Array[Int](64 * words)
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return null
      val s = ad.getUTF8String(i)
      var w = 0
      while (w < words) { vote(cnt, w * 64, XxHash64Function.hash(s, StringType, 42L + w), 64); w += 1 }
      i += 1
    }
    pack(cnt, words, 64)
  }

  /** [[VectorExpressions.SimHash64]]: word 0 of [[simhashWide]]. */
  def simhash64(ad: ArrayData): java.lang.Long = {
    val w = xxSimHash(ad, 1)
    if (w == null) null else w(0)
  }

  /** [[VectorExpressions.SimHashWide]]. */
  def simhashWide(ad: ArrayData, words: Int): GenericArrayData = {
    val w = xxSimHash(ad, words)
    if (w == null) null else new GenericArrayData(w)
  }

  /** [[VectorExpressions.MinHashSig]]: sig[p] = min over elements of
    * xxhash64 with seed p. Null iff the array is empty or an element is
    * null. */
  def minhashSig(ad: ArrayData, nPerms: Int): GenericArrayData = {
    val n = ad.numElements()
    if (n == 0) return null
    val sig = Array.fill(nPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return null
      val s = ad.getUTF8String(i)
      var p = 0
      while (p < nPerms) {
        val h = XxHash64Function.hash(s, StringType, p.toLong)
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** [[VectorExpressions.ModeCount]]: multiplicity of the most frequent
    * element, 0 for an empty array, null iff an element is null. */
  def modeCount(ad: ArrayData): java.lang.Long = {
    val n = ad.numElements()
    val m = new java.util.HashMap[UTF8String, Integer]()
    var best = 0L
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return null
      val c = m.merge(ad.getUTF8String(i), 1, (x: Integer, y: Integer) => x + y)
      if (c.longValue() > best) best = c.longValue()
      i += 1
    }
    best
  }

  // ---- md5: the engine-portable hash family ----

  // thread-local: getInstance per row would dominate, and a
  // MessageDigest is not safe to share between threads
  private val tlMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private def md5(s: UTF8String): Array[Byte] = {
    val md = tlMd.get(); md.reset()
    md.digest(s.getBytes)
  }

  /** Digest bytes [from, from + 8) big-endian, shifted right 4: 60
    * bits, positive (hex chars from·2+1 to from·2+15). */
  private def half60(d: Array[Byte], from: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(from + i) & 0xFFL); i += 1 }
    v >>> 4
  }

  /** [[VectorExpressions.Md5Prefix60]]: the first 15 hex chars of
    * md5(s) as a long. */
  def tokenHash60(s: UTF8String): Long = half60(md5(s), 0)

  /** [[VectorExpressions.SimHashMd5]]: 60-bit SimHash over
    * [[tokenHash60]]; null iff an element is null. */
  def sig60(ad: ArrayData): java.lang.Long = {
    val n = ad.numElements()
    val cnt = new Array[Int](60)
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return null
      vote(cnt, 0, tokenHash60(ad.getUTF8String(i)), 60)
      i += 1
    }
    pack(cnt, 1, 60)(0)
  }

  /** [[VectorExpressions.SimHashMd5Wide]]: the digest's two 60-bit
    * halves vote as independent hash functions (word 0 ← hex chars
    * 1–15, word 1 ← 17–31), so one md5 per token buys both words. Null
    * iff an element is null. */
  def sig60Wide(ad: ArrayData): GenericArrayData = {
    val n = ad.numElements()
    val cnt = new Array[Int](120)
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return null
      val d = md5(ad.getUTF8String(i))
      vote(cnt, 0, half60(d, 0), 60)
      vote(cnt, 60, half60(d, 8), 60)
      i += 1
    }
    new GenericArrayData(pack(cnt, 2, 60))
  }

  /** [[VectorExpressions.MinHashSigMd5]]: Kirsch–Mitzenmacher
    * permutations `(a + p·b) mod P` over the md5 halves, P = 2³¹−1.
    * Null iff the array is empty or an element is null (as
    * [[minhashSig]]). */
  def minhashSigMd5(ad: ArrayData, nPerms: Int): GenericArrayData = {
    val P = 2147483647L
    val n = ad.numElements()
    if (n == 0) return null
    val sig = Array.fill(nPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) return null
      val d = md5(ad.getUTF8String(i))
      val a = half60(d, 0) % P
      val b = half60(d, 8) % P
      var p = 0
      while (p < nPerms) {
        val h = (a + p * b) % P
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  // ---- word k-grams ----

  // One UTF8String.concatWs allocation per gram and one xxhash64 over
  // its bytes; the distinct path keeps array_distinct's first-occurrence
  // order via an insertion-ordered set keyed on the gram STRING (so two
  // distinct grams that collide in the 64-bit hash still emit two
  // stream rows, exactly like the chain it replaces).
  private val space = UTF8String.fromString(" ")

  /** [[VectorExpressions.ShingleHash64]]. */
  def grams(ad: ArrayData, k: Int, distinct: Boolean): GenericArrayData = {
    val n = ad.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = if (ad.isNullAt(i)) null else ad.getUTF8String(i); i += 1 }
    val m = n - k + 1
    val out = new Array[Long](m)
    var seen: java.util.HashSet[UTF8String] = null
    if (distinct) seen = new java.util.HashSet[UTF8String](m * 2)
    var sawNullGram = false
    var w = 0
    var o = 0
    val parts = new Array[UTF8String](k)
    while (w < m) {
      var nullGram = false
      var j = 0
      while (j < k) {
        val t = toks(w + j)
        if (t == null) nullGram = true
        parts(j) = t
        j += 1
      }
      if (nullGram) {
        // concat() nulls the gram; xxhash64(null) = the seed. Under
        // distinct, array_distinct keeps a single null.
        if (!distinct || !sawNullGram) { out(o) = 42L; o += 1; sawNullGram = true }
      } else {
        val gram = UTF8String.concatWs(space, parts: _*)
        if (!distinct || seen.add(gram)) {
          out(o) = XxHash64Function.hash(gram, StringType, 42L)
          o += 1
        }
      }
      w += 1
    }
    new GenericArrayData(if (o == m) out else java.util.Arrays.copyOf(out, o))
  }

  /** [[VectorExpressions.ShingleGrams]]: the gram-string sibling of
    * [[grams]] — same window walk, same null-gram and
    * first-occurrence-distinct semantics, but emits the grams instead of
    * their hashes. */
  def gramStrings(ad: ArrayData, k: Int, distinct: Boolean): GenericArrayData = {
    val n = ad.numElements()
    if (n < k) return new GenericArrayData(Array.empty[AnyRef])
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = if (ad.isNullAt(i)) null else ad.getUTF8String(i); i += 1 }
    val m = n - k + 1
    val out = new Array[AnyRef](m)
    var seen: java.util.HashSet[UTF8String] = null
    if (distinct) seen = new java.util.HashSet[UTF8String](m * 2)
    var sawNullGram = false
    var w = 0
    var o = 0
    val parts = new Array[UTF8String](k)
    while (w < m) {
      var nullGram = false
      var j = 0
      while (j < k) {
        val t = toks(w + j)
        if (t == null) nullGram = true
        parts(j) = t
        j += 1
      }
      if (nullGram) {
        // concat() nulls the gram; array_distinct keeps a single null
        if (!distinct || !sawNullGram) { out(o) = null; o += 1; sawNullGram = true }
      } else {
        val gram = UTF8String.concatWs(space, parts: _*)
        if (!distinct || seen.add(gram)) { out(o) = gram; o += 1 }
      }
      w += 1
    }
    new GenericArrayData(if (o == m) out else java.util.Arrays.copyOf(out, o))
  }
}
