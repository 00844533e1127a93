package graft

import scala.util.Try

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CodegenObjectFactoryMode, Expression, GenericInternalRow, InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorExpressions._

/** Every native expression answers the same edge inputs identically,
  * bit for bit, through `eval` (interpreted) and through a generated
  * projection (codegen only, no interpreted fallback): null inputs, null
  * elements, empty arrays, length mismatches, float/double mixes and
  * out-of-range PQ codes. Each input row is fed both as a generic row and
  * as an `UnsafeRow`, the two array layouts the expressions meet. */
class KernelParitySpec extends SparkSuite {

  private type V = Seq[java.lang.Double]
  private val N: java.lang.Double = null

  private val vecs: Seq[V] = Seq(null, Seq(), Seq(1.0, N), Seq(N), Seq(0.1, 0.2, 0.3),
    Seq(0.3, -0.2, 0.1), Seq(1.5, 2.5), Seq(1e300, 1e300, 1.0), Seq(1.0, 2.0, 3.0, 4.0))

  private def vec(v: V, et: DataType): Any =
    if (v == null) null
    else new GenericArrayData(v.map(x =>
      if (x == null) null else if (et == FloatType) x.floatValue: Any else x.doubleValue: Any))

  private def strs(xs: String*): GenericArrayData =
    new GenericArrayData(xs.map(s => if (s == null) null else UTF8String.fromString(s)))

  private val tokenArrays: Seq[Any] = Seq(null, strs(), strs("a"), strs("a", null), strs(null),
    strs("a", "b", "a", "c"), strs("", "x", ""), strs("é", "日本", "é"),
    strs("the", "quick", "brown", "fox", "the", "quick", "brown"))

  private val F = ArrayType(FloatType)
  private val D = ArrayType(DoubleType)
  private val S = ArrayType(StringType)

  /** One expression over bound inputs of `types`, and the rows to feed it. */
  private case class Case(name: String, types: Seq[DataType], rows: Seq[Seq[Any]],
                          exprs: Seq[Seq[Expression] => Expression])

  private def matrix(rows: Int, dim: Int, seed: Int): Seq[Seq[Double]] =
    Seq.tabulate(rows, dim)((r, c) => ((r * 7 + c * 13 + seed) % 11 - 5) / 4.0)

  private val elemTypes = Seq(FloatType, DoubleType)
  private val gates: Seq[Any] = Seq(null, Double.NegativeInfinity, 0.0, 0.05, 1e10, Double.NaN)
  private val codes: Seq[Any] = Seq(null, Seq(), Seq(0, 1), Seq(1, 0), Seq(-1, 0), Seq(2, 0),
    Seq(0, null), Seq(1)).map {
    case s: Seq[_] => new GenericArrayData(s)
    case other => other
  }
  private val luts: Seq[Any] = Seq[V](null, Seq(), Seq(1.0, 2.0), Seq(0.5, 1.5, 2.5, 3.5),
    Seq(0.5, N, 2.5, 3.5)).map(vec(_, DoubleType))

  private val cases: Seq[Case] = {
    val dotCases = for (l <- elemTypes; r <- elemTypes) yield
      Case(s"vec_dot(array<${l.simpleString}>, array<${r.simpleString}>)", Seq(ArrayType(l), ArrayType(r)),
        for (a <- vecs; b <- vecs) yield Seq(vec(a, l), vec(b, r)),
        Seq(in => VecDot(in(0), in(1))))
    val gatedCases = for (l <- elemTypes; r <- elemTypes) yield
      Case(s"gated_vec_dot(array<${l.simpleString}>, array<${r.simpleString}>)", Seq(ArrayType(l), ArrayType(r), DoubleType),
        for (a <- vecs; b <- vecs; g <- gates) yield Seq(vec(a, l), vec(b, r), g),
        Seq(1, 2, 16).map(p => (in: Seq[Expression]) => GatedVecDot(in(0), in(1), in(2), p)))
    dotCases ++ gatedCases ++ Seq(
      Case("pq_adc", Seq(ArrayType(IntegerType), D),
        for (c <- codes; l <- luts) yield Seq(c, l),
        Seq(in => PqAdc(in(0), in(1), 2))),
      Case("sign_sketch(array<float>)", Seq(F), vecs.map(v => Seq(vec(v, FloatType))),
        Seq(in => SignSketch(in(0), matrix(128, 3, 1)))),
      Case("sign_sketch(array<double>)", Seq(D), vecs.map(v => Seq(vec(v, DoubleType))),
        Seq(in => SignSketch(in(0), matrix(64, 3, 2)))),
      Case("nearest_centroids(array<float>)", Seq(F), vecs.map(v => Seq(vec(v, FloatType))),
        Seq(1, 3, 5).map(n => (in: Seq[Expression]) => NearestCentroids(in(0), matrix(5, 3, 3), n))),
      Case("nearest_centroids(array<double>)", Seq(D), vecs.map(v => Seq(vec(v, DoubleType))),
        Seq(in => NearestCentroids(in(0), matrix(5, 3, 3), 2))),
      Case("simhash64", Seq(S), tokenArrays.map(Seq(_)), Seq(in => SimHash64(in(0)))),
      Case("simhash_md5", Seq(S), tokenArrays.map(Seq(_)), Seq(in => SimHashMd5(in(0)))),
      Case("simhash_wide", Seq(S), tokenArrays.map(Seq(_)),
        Seq(1, 3).map(w => (in: Seq[Expression]) => SimHashWide(in(0), w))),
      Case("minhash_sig", Seq(S), tokenArrays.map(Seq(_)), Seq(in => MinHashSig(in(0), 4))),
      Case("minhash_sig_md5", Seq(S), tokenArrays.map(Seq(_)), Seq(in => MinHashSigMd5(in(0), 4))),
      Case("simhash_md5_wide", Seq(S), tokenArrays.map(Seq(_)), Seq(in => SimHashMd5Wide(in(0)))),
      Case("mode_count", Seq(S), tokenArrays.map(Seq(_)), Seq(in => ModeCount(in(0)))),
      Case("shingle_hash64", Seq(S), tokenArrays.map(Seq(_)),
        for (k <- Seq(1, 2, 3); d <- Seq(false, true))
          yield (in: Seq[Expression]) => ShingleHash64(in(0), k, d)),
      Case("shingle_grams", Seq(S), tokenArrays.map(Seq(_)),
        for (k <- Seq(1, 2, 3); d <- Seq(false, true))
          yield (in: Seq[Expression]) => ShingleGrams(in(0), k, d)),
      Case("md5_prefix60", Seq(StringType),
        Seq(null, "", "a", "日本", "the quick").map(s =>
          Seq(if (s == null) null else UTF8String.fromString(s))),
        Seq(in => Md5Prefix60(in(0)))))
  }

  /** A generated projection, with the interpreted fallback switched off. */
  private def generated(e: Expression): UnsafeProjection = {
    val key = SQLConf.CODEGEN_FACTORY_MODE.key
    spark.conf.set(key, CodegenObjectFactoryMode.CODEGEN_ONLY.toString)
    val p = try UnsafeProjection.create(Seq(e)) finally spark.conf.unset(key)
    assert(!p.isInstanceOf[InterpretedUnsafeProjection], s"$e fell back to interpreted")
    p
  }

  /** A result in a form compared bit for bit: doubles as their raw bits,
    * arrays as element lists, strings as Java strings. */
  private def norm(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (d: Double, DoubleType) => java.lang.Double.doubleToRawLongBits(d)
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i => if (a.isNullAt(i)) null else norm(a.get(i, et), et))
    case (s: UTF8String, StringType) => s.toString
    case (x, _) => x
  }

  /** The value, or the class of the exception thrown computing it. */
  private def outcome(f: => Any): Any = Try(f).fold(_.getClass.getName, identity)

  cases.foreach { c =>
    test(s"${c.name}: eval and generated code agree bit for bit on edge inputs") {
      val schema = StructType(c.types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) })
      val toUnsafe = UnsafeProjection.create(schema)
      val inputs = c.types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }
      for (build <- c.exprs) {
        val e = build(inputs)
        assert(e.checkInputDataTypes().isSuccess, e)
        val proj = generated(e)
        for (values <- c.rows) {
          val generic = new GenericInternalRow(values.toArray)
          for (row <- Seq[InternalRow](generic, toUnsafe(generic).copy())) {
            val interpreted = outcome(norm(e.eval(row), e.dataType))
            val gen = outcome {
              val out = proj(row)
              norm(if (out.isNullAt(0)) null else out.get(0, e.dataType), e.dataType)
            }
            assert(gen === interpreted, s"$e on ${values.mkString("(", ", ", ")")} ($row)")
          }
        }
      }
    }
  }
}
