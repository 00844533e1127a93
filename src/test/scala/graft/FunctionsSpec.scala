package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** Parity bars for the codegen'd vector expressions: each must equal
  * the interpreted higher-order-function formulation it replaced —
  * bit-for-bit, since the DuckDB oracle hash-compares doubles. */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def randVecs(n: Int, dim: Int, seed: Long): Seq[(Long, Array[Float])] = {
    var s = seed
    def rnd(): Float = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33).toInt % 2000) / 1000.0f - 1.0f
    }
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd())))
  }

  test("vecDot is bit-identical to the interpreted aggregate(zip_with) fold") {
    val df = randVecs(50, 64, 7).toDF("id", "a")
      .withColumn("b", reverse(col("a")))
    val out = df.select(
      VectorExpressions.vecDot(col("a"), col("b")).as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("slow"))
      .as[(Double, Double)].collect()
    out.foreach { case (f, s) =>
      assert(java.lang.Double.doubleToLongBits(f) === java.lang.Double.doubleToLongBits(s))
    }
  }

  test("vecDot handles empty arrays and null elements") {
    val out = spark.sql(
      """SELECT CAST(array() AS ARRAY<FLOAT>) AS a, CAST(array() AS ARRAY<FLOAT>) AS b
        |UNION ALL SELECT array(CAST(1.0 AS FLOAT), NULL), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))
        |""".stripMargin)
      .select(VectorExpressions.vecDot(col("a"), col("b")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSet === Set(Some(0.0), None))
  }

  test("vecDot nulls out unequal-length arrays like the zip_with fold") {
    // zip_with pads the shorter side with nulls, so the HOF fold yields
    // NULL on a dim mismatch — vec_dot must agree, not dot over min(len)
    val out = spark.sql(
      """SELECT array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)) AS a,
        |       array(CAST(4.0 AS FLOAT), CAST(5.0 AS FLOAT)) AS b""".stripMargin)
      .select(
        VectorExpressions.vecDot(col("a"), col("b")).as("fast"),
        expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          "CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("slow"))
      .collect().head
    assert(out.isNullAt(0), "vec_dot must be null on length mismatch")
    assert(out.isNullAt(1), "the HOF fold it mirrors is null on length mismatch")
  }

  test("gatedVecDot: survivors are bit-identical to vecDot; only sub-bound pairs prune") {
    // Random pairs, bound set from each pair's true dot: a gate BELOW
    // the dot must pass it through bit-identically (the lossless
    // contract), a gate its prefix+tail-bound cannot reach must null it.
    val df = randVecs(80, 64, 11).toDF("id", "a")
      .withColumn("b", reverse(col("a")))
    val full = df.select(col("id"),
      VectorExpressions.vecDot(col("a"), col("b")).as("dot")).as[(Long, Double)]
      .collect().toMap
    val passed = df.select(col("id"),
      VectorExpressions.gatedVecDot(col("a"), col("b"), lit(-1e18)).as("dot"))
      .as[(Long, Double)].collect().toMap
    assert(passed.keySet === full.keySet, "a -inf gate must pass every pair")
    passed.foreach { case (id, d) =>
      assert(java.lang.Double.doubleToLongBits(d) ===
        java.lang.Double.doubleToLongBits(full(id)), "survivor dot must be bit-identical")
    }
    val pruned = df.select(col("id"),
      VectorExpressions.gatedVecDot(col("a"), col("b"), lit(1e18)).as("dot"))
      .collect()
    assert(pruned.forall(_.isNullAt(1)), "an unreachable gate must prune every pair")
    // prefix >= dim degrades to an exact full-dot compare against the gate
    val exact = df.select(col("id"),
      VectorExpressions.gatedVecDot(col("a"), col("b"), lit(0.0), prefix = 128).as("dot"))
      .as[(Long, java.lang.Double)].collect().toMap
    exact.foreach { case (id, d) =>
      if (full(id) >= 0.0) assert(d != null && d.doubleValue === full(id))
      else assert(d == null, s"full dot ${full(id)} below gate 0.0 must prune")
    }
  }

  test("pqAdc equals the reconstruction dot it shortcuts; bad codes poison to null") {
    // m=2 subspaces, k=4 codewords of sub=3 dims; q fixed; lut built
    // the same way annIvfPq builds it: lut[s*4+c] = <q_s, codeword>
    val books: Seq[Seq[Seq[Double]]] = Seq(
      (0 until 4).map(c => Seq(c + 0.5, c - 1.0, 0.25 * c)),
      (0 until 4).map(c => Seq(1.0 - c, 0.5 * c, c + 0.125)))
    val q = Seq(0.3, -1.2, 2.0, 0.7, 0.9, -0.4)
    val lut: Seq[Double] = books.zipWithIndex.flatMap { case (bk, s) =>
      bk.map(cw => cw.zip(q.slice(s * 3, s * 3 + 3)).map { case (a, b) => a * b }.sum)
    }
    val rows = Seq((0L, Seq(1, 3)), (1L, Seq(2, 0)), (2L, Seq(3, 3)))
    val out = rows.toDF("id", "codes")
      .select(col("id"),
        VectorExpressions.pqAdc(col("codes"), typedlit(lut), 4).as("adc"))
      .as[(Long, Double)].collect().toMap
    rows.foreach { case (id, codes) =>
      val recon = books(0)(codes(0)) ++ books(1)(codes(1))
      val full = recon.zip(q).map { case (a, b) => a * b }.sum
      assert(math.abs(out(id) - full) < 1e-12,
        s"adc ${out(id)} must equal the reconstruction dot $full")
    }
    val bad = Seq((0L, Seq(1, 9)), (1L, Seq(1, 3, 2))).toDF("id", "codes")
      .select(VectorExpressions.pqAdc(col("codes"), typedlit(lut), 4)).collect()
    assert(bad.forall(_.isNullAt(0)),
      "out-of-range code and m/lut length mismatch must both poison to null")
  }

  test("signSketch matches the interpreted sign-projection fold") {
    val nBits = 128
    val rng = new scala.util.Random(42)
    val signs: Seq[Seq[Double]] =
      Seq.fill(nBits)(Seq.fill(64)(if (rng.nextBoolean()) 1.0 else -1.0))
    val df = randVecs(40, 64, 11).toDF("id", "embedding")
    val out = df
      .withColumn("signs", typedlit(signs))
      .select(
        VectorExpressions.signSketch(col("embedding"), signs).as("fast"),
        expr(
          s"""aggregate(
             |  zip_with(embedding, sequence(0, size(embedding) - 1),
             |           (e, j) -> struct(CAST(e AS DOUBLE) AS e, j AS j)),
             |  array_repeat(CAST(0 AS DOUBLE), $nBits),
             |  (acc, x) -> zip_with(acc, sequence(0, ${nBits - 1}), (s, p) -> s + x.e * signs[p][x.j]),
             |  acc -> transform(sequence(0, ${nBits / 64 - 1}),
             |         w -> aggregate(sequence(0, 63), CAST(0 AS BIGINT),
             |              (b, p) -> b + CASE WHEN acc[w * 64 + p] > 0
             |                             THEN shiftleft(CAST(1 AS BIGINT), p)
             |                             ELSE CAST(0 AS BIGINT) END)))""".stripMargin).as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    out.foreach { case (f, s) => assert(f === s) }
  }

  test("simhash64 matches the interpreted xxhash64 vote fold") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b", "", "single",
      "the quick brown fox jumps over the lazy cat").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = docs
      .select(split(col("text"), " ").as("t"))
      .select(
        VectorExpressions.simhash64(col("t")).as("fast"),
        expr(
          """aggregate(
            |  transform(t, x -> xxhash64(x)),
            |  array_repeat(0, 64),
            |  (acc, h) -> zip_with(acc, sequence(0, 63),
            |              (c, i) -> c + CASE WHEN (shiftright(h, i) & 1) = 1 THEN 1 ELSE -1 END),
            |  acc -> aggregate(sequence(0, 63), CAST(0 AS BIGINT),
            |         (s, i) -> s + CASE WHEN acc[i] > 0 THEN shiftleft(CAST(1 AS BIGINT), i)
            |                       ELSE CAST(0 AS BIGINT) END))""".stripMargin).as("slow"))
      .as[(Long, Long)].collect()
    out.foreach { case (f, s) => assert(f === s) }
  }

  test("simhashMd5 matches the interpreted md5 vote fold (oracle portability)") {
    // the SQL fold below is the exact per-token recipe the DuckDB
    // oracle uses — conv(substring(md5(tok),1,15),16,10) — so this is
    // the engine-portability contract in one test
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b", "", "single", "répété tokens répété",
      "the quick brown fox jumps over the lazy cat").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = docs
      .select(split(col("text"), " ").as("t"))
      .select(
        VectorExpressions.simhashMd5(col("t")).as("fast"),
        expr(
          """aggregate(
            |  transform(t, x -> cast(conv(substring(md5(x), 1, 15), 16, 10) AS bigint)),
            |  array_repeat(0, 60),
            |  (acc, h) -> zip_with(acc, sequence(0, 59),
            |              (c, i) -> c + CASE WHEN (shiftright(h, i) & 1) = 1 THEN 1 ELSE -1 END),
            |  acc -> aggregate(sequence(0, 59), CAST(0 AS BIGINT),
            |         (s, i) -> s + CASE WHEN acc[i] > 0 THEN shiftleft(CAST(1 AS BIGINT), i)
            |                       ELSE CAST(0 AS BIGINT) END))""".stripMargin).as("slow"))
      .as[(Long, Long)].collect()
    out.foreach { case (f, s) => assert(f === s) }
  }

  test("minhashSigMd5 matches the interpreted KM-over-md5-halves fold (oracle portability)") {
    // the SQL fold is the DuckDB oracle's exact recipe: one md5 per
    // element, 60-bit halves mod P, perm_i = (a + i*b) mod P
    val docs = Seq("the quick brown fox", "a b", "single", "répété tokens")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = docs
      .select(split(col("text"), " ").as("t"))
      .select(
        VectorExpressions.minhashSigMd5(col("t"), 16).as("fast"),
        expr(
          """transform(sequence(0, 15), i ->
            |  array_min(transform(t, s ->
            |    (cast(conv(substring(md5(s), 1, 15), 16, 10) AS bigint) % 2147483647
            |     + i * (cast(conv(substring(md5(s), 17, 15), 16, 10) AS bigint) % 2147483647))
            |    % 2147483647)))""".stripMargin).as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    out.foreach { case (f, s) => assert(f === s) }
  }

  test("simhash_wide word 0 equals simhash64; SQL and Column API agree") {
    val docs = Seq("the quick brown fox jumps", "a b", "single")
      .toDF("text").select(split(col("text"), " ").as("t"))
    val out = docs.select(
      VectorExpressions.simhash64(col("t")).as("h64"),
      VectorExpressions.simhashWide(col("t"), 2).as("wide"))
      .as[(Long, Seq[Long])].collect()
    out.foreach { case (h, w) =>
      assert(w.length === 2)
      assert(w.head === h, "word 0 must be the seed-42 64-bit simhash")
    }
    val sql = spark.sql("SELECT simhash_wide(array('a','b','c'), 2) AS h")
      .as[Seq[Long]].head()
    val colApi = Seq(Seq("a", "b", "c")).toDF("t")
      .select(VectorExpressions.simhashWide(col("t"), 2)).as[Seq[Long]].head()
    assert(sql === colApi, "SQL and Column API must agree")
  }

  test("nearestCentroids returns top-n by dot product, ties to lower id") {
    val cents: Seq[Seq[Double]] = Seq(
      Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(1.0, 0.0))
    val df = Seq(
      (0L, Array(1.0f, 0.1f)), // → c0 (ties c3 at same dot → lower id first)
      (1L, Array(0.0f, 2.0f)), // → c1
      (2L, Array(-3.0f, 0.0f)) // → c2
    ).toDF("id", "embedding")
    val got = df.select(col("id"),
      VectorExpressions.nearestCentroids(col("embedding"), cents, 2).as("cids"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got(0L) === Seq(0, 3))
    assert(got(1L) === Seq(1, 0))
    assert(got(2L) === Seq(2, 1))
  }

  test("minhashSig estimates Jaccard and nulls out empty sets") {
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e", "d e f")),
      (2L, Seq("a b c", "b c d", "c d e", "d e f")), // identical → sig equal
      (3L, Seq("x y z", "y z w", "z w v", "w v u")), // disjoint
      (4L, Seq.empty[String])                        // no shingles → null
    ).toDF("id", "sh")
    val sigs = df.select(col("id"),
      VectorExpressions.minhashSig(col("sh"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
      .toMap
    assert(sigs(1L) === sigs(2L), "identical sets must have identical signatures")
    assert(sigs(4L) === null)
    // disjoint sets: expected matching positions = J = 0 (collisions
    // astronomically unlikely over 16 independent 64-bit mins)
    val matches = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(matches === 0, s"$matches positions matched for disjoint sets")
  }

  test("modeCount counts the most frequent element, both eval paths") {
    val rows = Seq(
      (1L, Seq("a b", "b c", "a b", "a b", "c d")),
      (2L, Seq("x y")),
      (3L, Seq.empty[String]),
      (4L, null)).toDF("id", "arr")
    // interpreted path (local relation folds eagerly)
    val got = rows.select(col("id"), VectorExpressions.modeCount(col("arr")).as("m"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map(1L -> 3L, 2L -> 1L, 3L -> 0L, 4L -> -1L))
    // codegen path (parquet-backed) agrees with a groupBy count
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
    val native = docs.select(col("doc_id"), VectorExpressions.modeCount(col("arr")).as("m"))
      .as[(Long, Long)].collect().toMap
    val oracle = docs.select(col("doc_id"), explode(col("arr")).as("tok"))
      .groupBy("doc_id", "tok").count()
      .groupBy("doc_id").agg(max("count").as("m"))
      .as[(Long, Long)].collect().toMap
    assert(native === oracle)
  }

  test("extensions expose vec_dot / simhash64 / minhash_sig to spark.sql") {
    val dot = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .as[Double].head()
    assert(dot === 11.0)
    val sh = spark.sql("SELECT simhash64(array('a', 'b', 'c')) AS h").as[Long].head()
    val shCol = Seq(Seq("a", "b", "c")).toDF("t")
      .select(VectorExpressions.simhash64(col("t"))).as[Long].head()
    assert(sh === shCol, "SQL and Column API must agree")
    val sig = spark.sql("SELECT minhash_sig(array('a', 'b'), 4) AS s")
      .as[Seq[Long]].head()
    assert(sig.length === 4)
    val mc = spark.sql("SELECT mode_count(array('x', 'y', 'x')) AS m").as[Long].head()
    assert(mc === 2L)
    val shMd5 = spark.sql("SELECT simhash_md5(array('a', 'b', 'c')) AS h").as[Long].head()
    val shMd5Col = Seq(Seq("a", "b", "c")).toDF("t")
      .select(VectorExpressions.simhashMd5(col("t"))).as[Long].head()
    assert(shMd5 === shMd5Col, "SQL and Column API must agree")
    val sigMd5 = spark.sql("SELECT minhash_sig_md5(array('a', 'b'), 4) AS s")
      .as[Seq[Long]].head()
    assert(sigMd5.length === 4)
    assert(sigMd5.forall(v => v >= 0 && v < 2147483647L), "KM perms live in [0, P)")
    val gated = spark.sql(
      "SELECT gated_vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), CAST(-100.0 AS DOUBLE), 1) AS d")
      .as[Double].head()
    assert(gated === 11.0, "passing gate returns the full dot")
    val adc = spark.sql(
      "SELECT pq_adc(array(1, 0), array(CAST(0.5 AS DOUBLE), CAST(1.5 AS DOUBLE), " +
        "CAST(2.5 AS DOUBLE), CAST(3.5 AS DOUBLE)), 2) AS a").as[Double].head()
    assert(adc === 1.5 + 2.5, "lut[0*2+1] + lut[1*2+0]")
  }

  test("vector expressions run inside whole-stage codegen") {
    // parquet-backed (a local relation would be eagerly folded via the
    // interpreted eval path by ConvertToLocalRelation)
    val df = Tables.load(spark, SparkSpec.sfTiny, "embeddings")
      .select(VectorExpressions.vecDot(col("embedding"), col("embedding")).as("d"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("vec_dot"), p)
    // "*(n)" marks a WholeStageCodegen stage in the compact plan string
    assert(p.linesIterator.exists(l => l.contains("vec_dot") && l.trim.startsWith("*(")),
      "expression must not fall back to interpreted:\n" + p)
    df.collect() // force execution through the codegen path
  }

  test("misra_gries survives an adversarial stream and any partitioning") {
    // 1 heavy item (12% of the stream) drowned in unique noise that
    // constantly evicts counters — the case where naive top-k-by-count
    // sampling fails. The sketch keys must still contain the heavy
    // item under every partitioning (merge tree) tried.
    val heavy = Seq.fill(1200)("heavy")
    val noise = (0 until 8800).map(i => s"noise$i")
    val stream = scala.util.Random.shuffle(heavy ++ noise) // fixed default seed not needed: guarantee is worst-case
    for (parts <- Seq(1, 7, 32)) {
      val keys = stream.toDF("tok").repartition(parts)
        .selectExpr("misra_gries(tok, 20) AS mg")
        .selectExpr("map_keys(mg) AS ks").as[Seq[String]].head()
      assert(keys.size <= 20, s"sketch exceeded its k budget: ${keys.size}")
      assert(keys.contains("heavy"),
        s"parts=$parts evicted a 12% item (bound allows eviction only under n/(k+1)=4.8%)")
    }
  }

  test("heavy hitters: exact result, equals the full-vocabulary aggregate") {
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
    val got = graft.operators.Documents.heavyHitters(docs, thresholdInv = 100, k = 400)
      .as[(String, Long)].collect().toSeq
    val exact = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = exact.agg(sum("cnt")).as[Long].head()
    val want = exact.filter(col("cnt") * 100 > total)
      .orderBy("tok").as[(String, Long)].collect().toSeq
    assert(got === want)
    assert(got.nonEmpty, "tiny synthetic corpus should have >1% tokens")
  }

  test("md5Prefix60 matches the conv(substring(md5)) string chain") {
    val vals: Seq[String] = Seq("", "a", "hello world", "αβγ δ", " x",
      "££", "a b", null) ++ (1 to 200).map(i => s"tok$i")
    val df = vals.map(Tuple1(_)).toDF("s")
    val out = df.select(
      VectorExpressions.md5Prefix60(col("s")).as("fast"),
      expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").as("slow"))
      .collect()
    assert(out.length === vals.length)
    out.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) {
        assert(r.getLong(0) === r.getLong(1))
        assert(r.getLong(0) >= 0L, "60-bit prefix must stay positive")
      }
    }
  }

  test("shingleHash64/shingleGrams match the interpreted chain across edge shapes") {
    // ADVICE r16: the two expressions share a hand-rolled window walk;
    // pin BOTH against an independent SQL formulation AND against each
    // other (grams == hash64 elementwise through xxhash64) over null
    // tokens, sub-k inputs, duplicate grams, non-ASCII, empty and null
    // arrays.
    val rows: Seq[Seq[String]] = Seq(
      Seq("a", "b", "c", "d", "a", "b", "c", "d"), // duplicate grams
      Seq("a", "b"), // below k for k=3
      Seq("x", "y", "z"), // exactly k=3
      Seq("α", "β", "γ", "δ"), // non-ASCII multi-byte
      Seq("a", null, "c", "d", null, "f"), // null tokens → null grams
      Seq(null, null, null), // all-null (single null under distinct)
      Seq("t", "t", "t", "t"), // one repeated token
      Seq.empty[String],
      null)
    val df = rows.map(Tuple1(_)).toDF("t")
    for (k <- Seq(1, 2, 3); d <- Seq(true, false)) {
      val gramExpr = (0 until k)
        .map(j => if (j == 0) "element_at(t, i)" else s"element_at(t, i + $j)")
        .mkString("concat(", ", ' ', ", ")")
      val core = s"transform(sequence(1, size(t) - ${k - 1}), i -> $gramExpr)"
      val slowGrams = s"CASE WHEN t IS NULL THEN NULL WHEN size(t) >= $k THEN " +
        (if (d) s"array_distinct($core)" else core) + " ELSE array() END"
      val out = df.select(
        VectorExpressions.shingleHash64(col("t"), k, d).as("fh"),
        VectorExpressions.shingleGrams(col("t"), k, d).as("fg"),
        expr(s"transform($slowGrams, g -> xxhash64(g))").as("sh"),
        expr(slowGrams).as("sg")).collect()
      out.zip(rows).foreach { case (r, in) =>
        val tag = s"k=$k distinct=$d input=$in"
        assert(r.isNullAt(0) === r.isNullAt(2), tag)
        assert(r.isNullAt(1) === r.isNullAt(3), tag)
        if (!r.isNullAt(0))
          assert(r.getSeq[Long](0) === r.getSeq[Long](2), tag)
        if (!r.isNullAt(1))
          assert(r.getSeq[String](1) === r.getSeq[String](3), tag)
        // the two walks agree with each other: hash64 = xxhash64(gram),
        // null gram = seed 42
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val hs = r.getSeq[Long](0)
          val gs = r.getSeq[String](1)
          assert(hs.length === gs.length, tag)
        }
      }
    }
  }

  test("every SQL function names itself on a wrong arity or a non-literal integer parameter") {
    val floats = "array(CAST(1.0 AS FLOAT))"
    val toks = "array('a', 'b')"
    val n = "CAST(id AS INT)" // an integer, but not a literal
    // name -> (a call with the wrong argument count, a call whose integer
    // parameter is not a literal, for functions that take one)
    val calls: Map[String, (String, Option[String])] = Map(
      "vec_dot" -> (s"vec_dot($floats)", None),
      "simhash64" -> (s"simhash64($toks, 2)", None),
      "simhash_wide" -> (s"simhash_wide($toks)", Some(s"simhash_wide($toks, $n)")),
      "minhash_sig" -> (s"minhash_sig($toks, 4, 4)", Some(s"minhash_sig($toks, $n)")),
      "simhash_md5" -> ("simhash_md5()", None),
      "minhash_sig_md5" -> (s"minhash_sig_md5($toks)", Some(s"minhash_sig_md5($toks, $n)")),
      "misra_gries" -> ("misra_gries('a')", Some(s"misra_gries('a', $n)")),
      "mode_count" -> (s"mode_count($toks, $toks)", None),
      "gated_vec_dot" -> (s"gated_vec_dot($floats, $floats)",
        Some(s"gated_vec_dot($floats, $floats, 0.0D, $n)")),
      "pq_adc" -> ("pq_adc(array(0), array(1.0D))", Some(s"pq_adc(array(0), array(1.0D), $n)")))
    assert(calls.keySet === graft.functions.GraftExtensions.functions.map(_.name).toSet)
    def failure(call: String): String = {
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM range(1)").collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    }
    calls.foreach { case (name, (badArity, badInt)) =>
      val arity = failure(badArity)
      assert(arity.contains(s"$name expects"), arity)
      badInt.foreach { call =>
        val literal = failure(call)
        assert(literal.contains(s"$name ") && literal.contains("must be an integer literal"), literal)
      }
    }
  }

  test("gram_matrix skips rows with a null element and rejects a non-float array by type") {
    import org.apache.spark.sql.graftshim.ColumnBridge
    def gram(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.agg(ColumnBridge.column(graft.functions.GramMatrix(
        ColumnBridge.expression(col("v")), 2).toAggregateExpression()))
        .head().getSeq[Double](0)
    val clean = gram(Seq(Seq(Some(1.0f), Some(2.0f)), Seq(Some(3.0f), Some(-1.0f))).toDF("v"))
    assert(clean === Seq(2.0, 4.0, 1.0, 10.0, -1.0, -1.0, 5.0))
    val withNull = gram(Seq(Seq(Some(1.0f), Some(2.0f)), Seq(Some(3.0f), Some(-1.0f)),
      Seq(Some(5.0f), None), Seq(None, None)).toDF("v"))
    assert(withNull === clean, "a row with a null element must be skipped, not read as zeros")
    val err = intercept[org.apache.spark.sql.AnalysisException](
      gram(Seq(Seq(1.0, 2.0)).toDF("v")))
    assert(err.getMessage.contains("gram_matrix needs array<float>, got array<double>"),
      err.getMessage)
  }
}
