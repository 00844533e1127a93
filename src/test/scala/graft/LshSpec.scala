package graft

import org.scalacheck.{Gen, Prop, Test => SC}

import graft.operators.Lsh

/** The recall guarantee of [[Lsh.candidates]] on its bit-band layout:
  * where the layout pigeonhole-guarantees Hamming h (bands ≥ h + 1),
  * the band join plus the Hamming gate returns EXACTLY the brute-force
  * all-pairs set — no pair within h missed, none beyond h admitted. */
class LshSpec extends SparkSuite {
  import spark.implicits._

  private def check(p: Prop, n: Int): Unit = {
    val res = SC.check(SC.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def hamming(a: Seq[Long], b: Seq[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  /** Bit positions of `k` flips under `layout`: either anywhere, or one
    * per distinct band, biased to the band's edge bits — where a band
    * boundary off by one would let k flips spoil every band. */
  private def flips(layout: Lsh.BitBands, k: Int): Gen[Seq[Int]] = {
    val perWord = 64 / layout.bits
    def inBand(band: Int): Gen[Int] =
      Gen.oneOf(Gen.const(0), Gen.const(layout.bits - 1), Gen.choose(0, layout.bits - 1))
        .map(off => 64 * (band / perWord) + (band % perWord) * layout.bits + off)
    Gen.oneOf(
      Gen.pick(k, 0 until 64 * layout.words).map(_.toSeq),
      Gen.pick(k, 0 until layout.count).flatMap(bands => Gen.sequence[Seq[Int], Int](bands.map(inBand))))
  }

  /** Random signatures plus planted neighbors, each k ≤ h bit flips
    * (mostly exactly h) from a random base. */
  private def signatures(layout: Lsh.BitBands, h: Int): Gen[Seq[Seq[Long]]] = for {
    bases <- Gen.listOfN(12, Gen.listOfN(layout.words, Gen.choose(Long.MinValue, Long.MaxValue)))
    planted <- Gen.listOfN(24, for {
      base <- Gen.oneOf(bases)
      k <- Gen.frequency(3 -> Gen.const(h), 1 -> Gen.choose(0, h))
      bits <- flips(layout, k)
    } yield base.zipWithIndex.map { case (w, i) =>
      bits.filter(_ / 64 == i).foldLeft(w)((acc, b) => acc ^ (1L << (b % 64)))
    })
  } yield bases ++ planted

  for (words <- Seq(1, 2); bits <- Seq(8, 16, 32)) {
    val layout = Lsh.BitBands.over(words, bits)
    test(s"candidates + gate equal brute force: $words-word signatures, $bits-bit bands") {
      // h up to the guaranteed bar, mostly AT it
      val bar = Gen.frequency(3 -> Gen.const(layout.count - 1), 1 -> Gen.choose(0, layout.count - 1))
      check(Prop.forAll(bar.flatMap(h => signatures(layout, h).map(h -> _))) { case (h, sigs) =>
        val rows = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        // one word rides a bigint column, two an array<bigint>
        val df =
          if (words == 1) rows.map { case (i, s) => (i, s.head) }.toDF("doc_id", "sig")
          else rows.toDF("doc_id", "sig")
        def found(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
                  self: Boolean): Set[(Long, Long, Int)] =
          Lsh.candidates(a, b, layout, self, ("l", "r"), maxHamming = Some(h))
            .as[(Long, Long, Int)].collect().toSet
        def brute(as: Seq[(Long, Seq[Long])], bs: Seq[(Long, Seq[Long])],
                  keep: (Long, Long) => Boolean): Set[(Long, Long, Int)] =
          (for ((i, x) <- as; (j, y) <- bs if keep(i, j); d = hamming(x, y) if d <= h)
            yield (i, j, d)).toSet
        val (evens, odds) = rows.partition(_._1 % 2 == 0)
        val self = found(df, df, self = true) == brute(rows, rows, _ < _)
        val cross = found(df.filter($"doc_id" % 2 === 0), df.filter($"doc_id" % 2 === 1),
          self = false) == brute(evens, odds, (_, _) => true)
        self && cross
      }, n = 4)
    }
  }

  test("a band width outside 8..32 is rejected by name") {
    for (bits <- Seq(0, 7, 33, 64)) {
      val e = intercept[IllegalArgumentException](Lsh.BitBands(bits, 4))
      assert(e.getMessage.contains("bandBits"), e.getMessage)
    }
  }
}
