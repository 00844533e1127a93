package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions.VectorExpressions._

/** SQL surface for graft's native expressions, injected via the
  * standard `SparkSessionExtensions` mechanism — `spark.sql(...)`
  * users (and the typed-CSV CLI) get every function in
  * [[GraftExtensions.functions]] (the vector dots, the SimHash and
  * MinHash signatures, `mode_count`, `pq_adc` and the `misra_gries`
  * aggregate) as first-class functions, planned and codegen'd exactly
  * like built-ins.
  *
  * Wire up with `SparkSession.builder.withExtensions(new
  * GraftExtensions)` (done by [[graft.GraftSession]]) or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` on a
  * cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((
        FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[VectorExpressions.type].getName, f.name, f.usage, "", ""),
        f.builder))
    }
}

object GraftExtensions {

  /** The arguments of one call to SQL function `fn`. */
  final class Args(fn: String, val all: Seq[Expression]) {
    def apply(i: Int): Expression = all(i)
    def size: Int = all.length

    /** Argument `i`, which must be an integer literal: the parameter
      * `param` that the expression takes as a constructor value. */
    def int(i: Int, param: String): Int = all(i) match {
      case Literal(v: Int, IntegerType) => v
      case other =>
        throw new IllegalArgumentException(s"$fn $param must be an integer literal, got $other")
    }
  }

  /** One SQL function: its name, usage text, the argument counts it
    * accepts, and how it builds its expression. */
  final case class SqlFunction(name: String, usage: String, arities: Seq[Int],
                               build: Args => Expression) {
    def builder(args: Seq[Expression]): Expression = {
      val expected = if (arities == Seq(1)) "1 argument" else s"${arities.mkString(" or ")} arguments"
      require(arities.contains(args.length), s"$name expects $expected, got ${args.length}")
      build(new Args(name, args))
    }
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("vec_dot", "vec_dot(a, b) - dot product of two float/double arrays",
      Seq(2), a => VecDot(a(0), a(1))),
    SqlFunction("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array",
      Seq(1), a => SimHash64(a(0))),
    SqlFunction("simhash_wide",
      "simhash_wide(tokens, words) - words x 64-bit SimHash of a string array, as array<bigint>",
      Seq(2), a => SimHashWide(a(0), a.int(1, "words"))),
    SqlFunction("minhash_sig",
      "minhash_sig(tokens, nPerms) - nPerms-permutation MinHash signature of a string array",
      Seq(2), a => MinHashSig(a(0), a.int(1, "nPerms"))),
    SqlFunction("simhash_md5",
      "simhash_md5(tokens) - engine-portable 60-bit md5 SimHash of a string array",
      Seq(1), a => SimHashMd5(a(0))),
    SqlFunction("minhash_sig_md5",
      "minhash_sig_md5(tokens, nPerms) - engine-portable md5/Kirsch-Mitzenmacher MinHash signature",
      Seq(2), a => MinHashSigMd5(a(0), a.int(1, "nPerms"))),
    SqlFunction("misra_gries",
      "misra_gries(col, k) - k-counter Misra-Gries heavy-hitter sketch, as map<string,bigint>",
      Seq(2), a => MisraGries(a(0), a.int(1, "k"))),
    SqlFunction("mode_count",
      "mode_count(arr) - multiplicity of the most frequent element of a string array",
      Seq(1), a => ModeCount(a(0))),
    SqlFunction("gated_vec_dot",
      "gated_vec_dot(a, b, bound[, prefix]) - vec_dot that returns NULL unless the " +
        "prefix-dot reaches bound (lossless Cauchy-Schwarz prune for threshold joins)",
      Seq(3, 4), a => GatedVecDot(a(0), a(1), a(2), if (a.size == 3) 16 else a.int(3, "prefix"))),
    SqlFunction("pq_adc",
      "pq_adc(codes, lut, k) - asymmetric PQ distance: sum of lut[s*k + codes[s]] " +
        "over the m code bytes, against a per-query codeword dot table",
      Seq(3), a => PqAdc(a(0), a(1), a.int(2, "k"))))
}
