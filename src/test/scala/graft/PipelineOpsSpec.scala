package graft

import org.apache.spark.sql.functions._
import graft.operators.Documents

/** Round-5 pipeline operators: duplicate-cluster connected components,
  * text normalization/PII redaction, repetition signals, chunking. */
class PipelineOpsSpec extends SparkSuite {
  import spark.implicits._

  test("connected components labels a chain with its minimum") {
    // chain 1-2-3-4 (transitive near-dups) + isolated pair 10-11
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("d1", "d2")
    val got = Documents.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 11L -> 10L),
      s"every non-root node must point at its component min: $got")
  }

  test("connected components converges on a long path (diameter >> rounds)") {
    // path 0-1-2-...-63: min-label propagation would need 63 rounds;
    // large-star/small-star must finish well inside maxIter = 30.
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
    // force the star loop: the convergence-in-few-rounds property is
    // exactly what this test exists to pin (the driver fast path
    // would bypass it at 63 edges)
    val got = Documents.connectedComponents(pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect()
    assert(got.length === 63) // every node but the root
    assert(got.forall(_._2 === 0L), "one component rooted at 0")
  }

  test("connected components handles a high-degree star without blowup") {
    // one boilerplate doc near-dup to 2,000 others: large-star's worst
    // case (the hub's whole neighborhood flows through one aggregation)
    val pairs = (1L to 2000L).map(i => (0L, i)).toDF("d1", "d2")
    // force the star loop — the hub-aggregation blowup being tested
    // lives in the distributed path
    val got = Documents.connectedComponents(pairs, driverMaxEdges = 0L)
      .as[(Long, Long)].collect()
    assert(got.length === 2000)
    assert(got.forall(_._2 === 0L), "every spoke labels to the hub")
  }

  test("dedup_clusters agrees with pair transitivity on the tiny corpus") {
    val dir = SparkSpec.sfTiny
    val docs = Tables.load(spark, dir, "documents")
    val rows = Documents.dedupClusters(spark, dir).as[(Long, Long)].collect()
    // row count asserted BEFORE toMap: a non-converged labeling emits
    // duplicate doc_ids that toMap would silently collapse
    assert(rows.length === docs.count(), "one row per doc")
    val clusters = rows.toMap
    assert(clusters.size === rows.length, "no duplicate doc_id labels")
    assert(clusters.forall { case (d, c) => c <= d }, "root is the min id")
    // every near-dup pair must land in the same cluster
    val pairs = Documents.dedupNgramJaccard(spark, dir)
      .select("d1", "d2").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("normalize redacts PII and collapses whitespace") {
    val docs = Seq(
      (1L, "Contact bob.smith+x@example.co.uk  or   visit https://foo.example/path?q=1 ref 1234567 now"),
      (2L, "no pii here just words")).toDF("doc_id", "text")
    val got = Documents.normalizeText(docs)
      .as[(Long, Int, Int, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    val (_, emails, urls, nums, norm) = got(1L)
    assert(emails === 1 && urls === 1 && nums === 1)
    assert(norm === "contact <email> or visit <url> ref <num> now", norm)
    val (_, e2, u2, n2, norm2) = got(2L)
    assert(e2 === 0 && u2 === 0 && n2 === 0 && norm2 === "no pii here just words")
  }

  test("repetition signals separate boilerplate from prose") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over a lazy dog"),
      (3L, "hi there")) // < 3 tokens: nothing to repeat
      .toDF("doc_id", "text")
    val got = Documents.repetitionStats(docs)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val (_, nb1, top1, dup1) = got(1L)
    assert(nb1 === 7L && top1 === 1.0 && dup1 > 0.8,
      s"one repeated bigram dominates: $top1 / $dup1")
    val (_, _, top2, dup2) = got(2L)
    assert(top2 < 0.2 && dup2 === 0.0, "diverse prose repeats nothing")
    val (_, nb3, top3, dup3) = got(3L)
    assert(nb3 === 1L && top3 === 1.0 && dup3 === 0.0)
  }

  test("repetition signals degrade to zeros on null text (oracle parity)") {
    val docs = Seq((1L, Some("a b c a b c")), (2L, None))
      .toDF("doc_id", "text")
    val got = Documents.repetitionStats(docs)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(2L) === ((2L, 0L, 0.0, 0.0)),
      "null text must report 0 bigrams, not NULL/-1")
    assert(got(1L)._2 === 5L)
  }

  test("operators compose into a full corpus pipeline: scrub → cluster → keep → pack") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog near the old mill today", "en"),
      (2L, "the quick brown fox jumps over a lazy dog near the old mill tonight", "en"), // ~dup of 1
      (3L, "the quick brown fox jumps over a lazy dog near the old hill tonight", "en"), // ~dup of 2 (chain)
      (4L, "an entirely different document about winter weather and mountain trails", "en"),
      (5L, "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) ____", "en"))
      .toDF("doc_id", "text", "lang")
    // 1. ingestion scrub: quality gate drops the symbol soup
    val clean = docs.join(
      Documents.scrubDocs(docs).select("doc_id"), Seq("doc_id"), "left_semi")
    assert(clean.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    // 2. near-dup pairs → transitive clusters (1~2, 2~3 chain to one cluster)
    val cc = Documents.connectedComponents(
      Documents.jaccardPairs(clean, threshold = 0.5).select("d1", "d2"))
    val reps = clean.join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("text"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .filter(col("doc_id") === col("cluster")) // keep the representative
    assert(reps.select("doc_id").as[Long].collect().toSet === Set(1L, 4L),
      "chain 1~2~3 keeps only doc 1; singleton 4 survives")
    // 3. pack the survivors into token-budget bins
    val packed = Documents.packSequences(reps, budget = 16)
    val bins = packed.select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(bins(1L) === 0L && bins(4L) === 0L,
      "doc 1 opens bin 0; doc 4's preceding cumulative (14) is under the 16-token budget")
  }

  test("tfidf ranks distinctive terms above corpus-wide ones") {
    val docs = Seq(
      (1L, "common common zebra common common"),
      (2L, "common words here common again"),
      (3L, "common more common stuff common")).toDF("doc_id", "text")
    val got = Documents.tfidfTop(docs, k = 2)
      .as[(Long, String, Long, Double, Int)].collect()
      .groupBy(_._1)
    // 'zebra' appears once in one doc; 'common' in all three (idf = 0)
    val doc1 = got(1L).sortBy(_._5)
    assert(doc1.head._2 === "zebra", s"distinctive term must rank first: ${doc1.toSeq}")
    assert(doc1.head._4 > 0.0)
    // 'common' has df = 3 = n_docs, so ln(1) = 0 — never a positive score
    assert(got.values.flatten.filter(_._2 == "common").forall(_._4 === 0.0))
  }

  test("chunking covers the doc with the declared window and stride") {
    val text = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val got = Documents.chunkDocs(docs, w = 32, stride = 24)
      .orderBy("chunk_id")
      .as[(Long, Long, Int, String)].collect()
    assert(got.map(_._2).toSeq === Seq(0L, 1L, 2L), "starts at 1, 25, 49")
    assert(got.map(_._3).toSeq === Seq(32, 32, 12), "last chunk is the tail")
    assert(got(0)._4.startsWith("w1 w2 ") && got(0)._4.endsWith(" w32"))
    assert(got(1)._4.startsWith("w25 ") && got(1)._4.endsWith(" w56"),
      "stride 24 overlaps 8 tokens")
    assert(got(2)._4 === (49 to 60).map(i => s"w$i").mkString(" "))
    // every token position is covered by some chunk
    val covered = got.flatMap { case (_, cid, n, _) =>
      val start = cid * 24 + 1
      start until (start + n)
    }.toSet
    assert(covered === (1 to 60).toSet)
  }

  test("curatePipeline dedups, gates quality and length, keeps winners") {
    val prose = "the quick brown fox jumps over a lazy dog in the sunny field of grass"
    val docs = Seq(
      (1L, prose, "en", "srcA"),
      (5L, prose, "en", "srcB"),                       // exact dup — loses to 1
      (2L, "$$$ ### 123 %%% ^^^ &&& *** @@@ !!! ~~~ ;;; :::", "en", "srcA"), // symbol soup
      (3L, "hello world", "en", "srcA"),               // under the token floor
      (4L, "a calm river flows through the old town past the stone bridge and quiet gardens",
        "en", "srcB")
    ).toDF("doc_id", "text", "lang", "source")
    // keepBelow "zz" disables the downsample gate (every hex prefix < "zz")
    val got = Documents.curatePipeline(docs, keepBelow = "zz")
      .as[(Long, String, String, Long, Double)].collect()
    assert(got.map(_._1).toSeq === Seq(1L, 4L), s"survivors: ${got.toSeq}")
    val d1 = got.find(_._1 == 1L).get
    assert(d1._3 === "srcA", "dedup winner carries its own source, not the loser's")
    assert(got.forall(_._5 >= 0.55) && got.forall(_._4 >= 8))
  }

  test("upsampleByWeight emits floor-or-floor+1 copies deterministically") {
    val docs = (0 until 40).map(i => (i.toLong, s"document number $i with text", if (i % 2 == 0) "aa" else "bb"))
      .toDF("doc_id", "text", "lang")
    val got = Documents.upsampleByWeight(docs,
      Map("aa" -> (2, "80"), "bb" -> (0, "00")))
      .as[(Long, String, Long, Long)].collect()
    assert(got.forall(_._2 == "aa"), "weight-0 language is dropped entirely")
    val byDoc = got.groupBy(_._1)
    assert(byDoc.size === 20, "every aa doc survives")
    byDoc.values.foreach { rows =>
      val n = rows.head._3
      assert(n == 2L || n == 3L, s"floor 2 + fractional '80' gives 2 or 3, got $n")
      assert(rows.map(_._4).sorted.toSeq === (1L to n), "copy index is 1..n")
    }
    // ~50% threshold: both copy counts must actually occur over 20 docs
    val counts = byDoc.values.map(_.head._3).toSet
    assert(counts === Set(2L, 3L), s"fractional gate never fires or always fires: $counts")
    // deterministic: a second run is identical
    val again = Documents.upsampleByWeight(docs,
      Map("aa" -> (2, "80"), "bb" -> (0, "00")))
      .as[(Long, String, Long, Long)].collect()
    assert(got.toSeq === again.toSeq)
  }

  test("shuffleDeterministic is stable across runs and input partitioning") {
    val docs = (0 until 100).map(i => (i.toLong, s"text body $i")).toDF("doc_id", "text")
    val a = Documents.shuffleDeterministic(docs).as[(Long, String)].collect().toSeq
    val b = Documents.shuffleDeterministic(docs.repartition(7)).as[(Long, String)].collect().toSeq
    assert(a === b, "same order regardless of input partitioning")
    assert(a.map(_._1).toSet === (0L until 100L).toSet, "a shuffle is a permutation")
    assert(a.map(_._1) != (0L until 100L).toSeq, "and not the identity one")
  }

  test("pmiCollocations ranks an always-together pair above independent words") {
    val glued = (0 until 8).map(i => (100L + i, s"new york skyline view number n$i"))
    val filler = (0 until 8).map(i => (200L + i, s"the cat sat near the f$i door and the mat"))
    val docs = (glued ++ filler).toDF("doc_id", "text")
    val got = Documents.pmiCollocations(docs, minCount = 5, k = 10)
      .as[(String, Long, Double)].collect()
    val ny = got.find(_._1 == "new york")
    assert(ny.nonEmpty, s"'new york' must survive minCount and rank: ${got.toSeq}")
    assert(ny.get._2 === 8L)
    assert(ny.get._3 > 0.0, "always-together pair has positive PMI")
    // 'the cat' occurs 8 times but 'the' is frequent — PMI must be lower
    got.find(_._1 == "the cat").foreach(tc => assert(tc._3 < ny.get._3))
  }

  test("pmiCollocations on an empty corpus returns no rows with the usual schema") {
    val some = Seq((1L, "new york new york new york")).toDF("doc_id", "text")
    val empty = some.filter(lit(false))
    val got = Documents.pmiCollocations(empty, minCount = 1)
    assert(got.collect().isEmpty)
    assert(got.schema === Documents.pmiCollocations(some, minCount = 1).schema)
  }
}
