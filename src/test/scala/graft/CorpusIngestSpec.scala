package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.sketch.BloomFilter
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, split}
import graft.operators.Documents
import graft.operators.Multimodal
import graft.streaming.{CorpusIngest, EmbedIngest, LeakageIngest, NearDupIngest, PhashIngest,
  ReleaseDiffIngest, ReplaySafeSink}

/** The unbounded-horizon dedup ledger: duplicates are dropped across
  * micro-batches AND across query restarts, because the seen set lives
  * in storage rather than stream state. */
class CorpusIngestSpec extends SparkSuite {
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  test("ledger dedups across micro-batches and across query restarts") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/corpus-ingest-spec")
    rm(base)
    val (ledger, out) = (s"$base/ledger", s"$base/corpus")

    val stream1 = MemoryStream[(Long, String)]
    val q1 = CorpusIngest.ingestWithLedger(
      stream1.toDF().toDF("doc_id", "text"), ledger, out, s"$base/ckpt1")
    try {
      stream1.addData(Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))) // in-batch dup
      q1.processAllAvailable()
      stream1.addData(Seq((4L, "beta"), (5L, "gamma"))) // cross-batch dup
      q1.processAllAvailable()
    } finally q1.stop()

    val afterFirst = spark.read.parquet(out).select("text").as[String].collect().sorted
    assert(afterFirst === Array("alpha", "beta", "gamma"))

    // a brand-new query (fresh state, fresh checkpoint, different
    // stream) must still honor the ledger
    val stream2 = MemoryStream[(Long, String)]
    val q2 = CorpusIngest.ingestWithLedger(
      stream2.toDF().toDF("doc_id", "text"), ledger, out, s"$base/ckpt2")
    try {
      stream2.addData(Seq((6L, "gamma"), (7L, "delta"))) // gamma seen months ago
      q2.processAllAvailable()
    } finally q2.stop()

    val afterRestart = spark.read.parquet(out).select("text").as[String].collect().sorted
    assert(afterRestart === Array("alpha", "beta", "delta", "gamma"))
    // ledger carries one hash per distinct text
    assert(spark.read.parquet(ledger).distinct().count() === 4)
  }

  test("Bloom pre-gate sends only probable hits into the ledger anti join") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/corpus-ingest-bloom")
    rm(base)
    val (ledger, out) = (s"$base/ledger", s"$base/corpus")
    val stream = MemoryStream[(Long, String)]
    val q = CorpusIngest.ingestWithLedger(
      stream.toDF().toDF("doc_id", "text"), ledger, out, s"$base/ckpt")
    try {
      stream.addData(Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta")))
      q.processAllAvailable()
      // first batch: no ledger exists, nothing reaches a join
      assert(CorpusIngest.lastProbedRows.get() === 0L)
      assert(CorpusIngest.lastFilterSource.get() === "first-batch")
      // pre-populated ledger + a batch of 2 true dups and 3 novel docs:
      // the exact anti join's input must be the Bloom-filtered subset
      // (the dups — no false positive fires at this fpp/scale, and the
      // filter is deterministic), NOT the whole batch. The filter comes
      // from the PERSISTED file (written by batch 1), not a ledger scan.
      stream.addData(Seq((5L, "alpha"), (6L, "delta"), (7L, "eps"),
        (8L, "zeta"), (9L, "eta")))
      q.processAllAvailable()
      val probed = CorpusIngest.lastProbedRows.get()
      assert(probed === 2L,
        s"anti join input must be the probable-hit subset, saw $probed of 5")
      assert(CorpusIngest.lastFilterSource.get() === "incremental",
        "second batch must load the persisted filter, not rescan the ledger")
      // maintenance path: dropping the filter file forces ONE rebuild
      // scan, after which incremental maintenance resumes — and the
      // rebuilt geometry stays merge-compatible
      CorpusIngest.resetFilter(spark, ledger)
      stream.addData(Seq((10L, "beta"), (11L, "theta")))
      q.processAllAvailable()
      assert(CorpusIngest.lastFilterSource.get() === "rebuilt")
      assert(CorpusIngest.lastProbedRows.get() === 1L) // beta only
      stream.addData(Seq((12L, "iota")))
      q.processAllAvailable()
      assert(CorpusIngest.lastFilterSource.get() === "incremental")
    } finally q.stop()
    // the gate prunes join INPUT, never decides membership — output exact
    val texts = spark.read.parquet(out).select("text").as[String].collect().sorted
    assert(texts === Array("alpha", "beta", "delta", "eps", "eta",
      "gamma", "iota", "theta", "zeta"))
    // SUPERSET INVARIANT: the persisted filter must cover every ledger
    // hash — a false negative there would hand out wrong "definitely
    // novel" verdicts (the write order corpus -> filter -> ledger
    // exists to preserve exactly this)
    val fs = new org.apache.hadoop.fs.Path(ledger)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$ledger/_bloom/filter.bf"))
    val filter = try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
    val hashes = spark.read.parquet(ledger).select("h").as[String].collect()
    assert(hashes.length === 9)
    hashes.foreach(h => assert(filter.mightContain(h), s"filter missing ledger hash $h"))
  }

  test("Bloom geometry regrows when the ledger outgrows its capacity; dedup stays exact") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/corpus-ingest-regrow")
    rm(base)
    val (ledger, out) = (s"$base/ledger", s"$base/corpus")

    // seed capacity 64; three batches push the ledger to 150 distinct
    // texts, over the 64-entry geometry twice
    val stream = MemoryStream[(Long, String)]
    val q = CorpusIngest.ingestWithLedger(
      stream.toDF().toDF("doc_id", "text"), ledger, out, s"$base/ckpt",
      bloomCapacity = 64L)
    try {
      stream.addData((0L until 50L).map(i => (i, s"doc-$i")))
      q.processAllAvailable()
      stream.addData((0L until 100L).map(i => (i + 100, s"doc-$i"))) // 50 dups + 50 new
      q.processAllAvailable() // ledger 50 ≤ 64 at batch start: still incremental
      stream.addData((100L until 150L).map(i => (i + 200, s"doc-$i"))) // all new
      q.processAllAvailable() // ledger 100 > 64 at batch start: regrow
      assert(CorpusIngest.lastFilterSource.get() === "regrown",
        s"ledger (100) over capacity (64) must regrow, got ${CorpusIngest.lastFilterSource.get()}")
    } finally q.stop()

    // exactness held through both geometries
    val texts = spark.read.parquet(out).select("text").as[String].collect()
    assert(texts.length === 150 && texts.distinct.length === 150)
    // the sidecar recorded a grown capacity and the filter still loads
    val cap = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ledger/_bloom/capacity"))).trim.toLong
    assert(cap >= 200L, s"capacity sidecar $cap should exceed the 100-row ledger it regrew for")
    // a further batch under the grown geometry reads incrementally again
    val stream2 = MemoryStream[(Long, String)]
    val q2 = CorpusIngest.ingestWithLedger(
      stream2.toDF().toDF("doc_id", "text"), ledger, out, s"$base/ckpt2",
      bloomCapacity = 64L)
    try {
      stream2.addData(Seq((900L, "doc-0"), (901L, "fresh")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(CorpusIngest.lastFilterSource.get() === "incremental")
    val after = spark.read.parquet(out).select("text").as[String].collect()
    assert(after.length === 151 && after.count(_ == "fresh") === 1)
  }

  /** Records the names of the SQL executions that run inside
    * `during`. A streaming query runs its batches on a clone of the
    * session taken at start, and the clone copies the listeners
    * registered by then, so register this before starting the query. */
  private class ExecutionNames extends QueryExecutionListener {
    @volatile private var recording = false
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    /** The executed plans of the last `during`'s successful executions. */
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) { seen.add(funcName); plans.add(qe.executedPlan) }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (recording) seen.add(s"failed: $funcName")
    def during(body: => Unit): Seq[String] = {
      ListenerBusDrain(spark.sparkContext)
      seen.clear(); plans.clear(); recording = true
      try { body; ListenerBusDrain(spark.sparkContext) } finally recording = false
      seen.asScala.toSeq
    }
  }

  private def readFilter(ledger: String): BloomFilter = {
    val in = new java.io.FileInputStream(s"$ledger/_bloom/filter.bf")
    try BloomFilter.readFrom(in) finally in.close()
  }

  private def readCapacity(ledger: String): Long = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(s"$ledger/_bloom/capacity"))).trim.toLong

  test("a steady ledger batch runs three SQL executions and never counts the ledger") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/corpus-ingest-executions")
    rm(base)
    val (ledger, out) = (s"$base/ledger", s"$base/corpus")
    val stream = MemoryStream[(Long, String)]
    val names = new ExecutionNames
    spark.listenerManager.register(names)
    val steady = try {
      val q = CorpusIngest.ingestWithLedger(
        stream.toDF().toDF("doc_id", "text"), ledger, out, s"$base/ckpt")
      try {
        stream.addData(Seq((1L, "alpha"), (2L, "beta")))
        q.processAllAvailable()
        names.during {
          stream.addData(Seq((3L, "alpha"), (4L, "gamma"), (5L, "delta"), (6L, "gamma")))
          q.processAllAvailable()
        }
      } finally q.stop()
    } finally spark.listenerManager.unregister(names)
    assert(CorpusIngest.lastFilterSource.get() === "incremental")
    assert(CorpusIngest.lastProbedRows.get() === 1L) // alpha only
    // the batch pass, the corpus write and the ledger append — no
    // probable-hit count, no filter pass over the novel rows, and no
    // ledger count for the saturation check
    assert(steady === Seq("head", "command", "command"),
      s"steady batch ran ${steady.size} executions: $steady")
    val texts = spark.read.parquet(out).select("text").as[String].collect().sorted
    assert(texts === Array("alpha", "beta", "delta", "gamma"))
  }

  test("the persisted filter is bit-identical to a filter built from the ledger alone") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/corpus-ingest-bits")
    rm(base)
    val (ledger, out) = (s"$base/ledger", s"$base/corpus")
    val stream = MemoryStream[(Long, String)]
    val q = CorpusIngest.ingestWithLedger(
      stream.toDF().toDF("doc_id", "text"), ledger, out, s"$base/ckpt",
      bloomCapacity = 1024L)
    try {
      stream.addData((0L until 40L).map(i => (i, s"doc-$i")))
      q.processAllAvailable()
      // 20 true duplicates of the ledger, an in-batch duplicate, 20 new
      stream.addData((20L until 60L).map(i => (i + 100, s"doc-$i")) :+ ((200L, "doc-59")))
      q.processAllAvailable()
      assert(CorpusIngest.lastFilterSource.get() === "incremental")
      assert(CorpusIngest.lastProbedRows.get() >= 20L)
    } finally q.stop()
    // the batch filter covered every batch hash, the duplicates among
    // them included; those were already in the standing filter, so
    // the merge set no bit a ledger-only filter lacks
    val cap = readCapacity(ledger)
    val numBits = math.ceil(-cap * math.log(0.01) / (math.log(2) * math.log(2))).toLong
    val fromLedger = spark.read.parquet(ledger).stat.bloomFilter("h", cap, numBits)
    assert(spark.read.parquet(ledger).count() === 60L)
    assert(readFilter(ledger) == fromLedger,
      "persisted filter must equal the ledger's own filter at the sidecar geometry")
  }

  test("a saturated filter at the maxNumBits clamp stays incremental; dedup stays exact") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/corpus-ingest-clamp")
    rm(base)
    val (ledger, out) = (s"$base/ledger", s"$base/corpus")
    // the stream runs on a clone of the session taken at start, so the
    // clamp is set before the query starts
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val previous = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    val stream = MemoryStream[(Long, String)]
    val sources = scala.collection.mutable.ArrayBuffer.empty[String]
    val names = new ExecutionNames
    spark.listenerManager.register(names)
    val clamped = try {
      // seed capacity 64 (614 bits); one regrow reaches the 1024-bit
      // clamp, and the filter saturates again after it
      val q = CorpusIngest.ingestWithLedger(
        stream.toDF().toDF("doc_id", "text"), ledger, out, s"$base/ckpt",
        bloomCapacity = 64L)
      try {
        def batch(lo: Long, hi: Long, dups: Seq[Long]): Unit = {
          stream.addData((lo until hi).map(i => (i, s"doc-$i")) ++
            dups.map(i => (i + 10000L, s"doc-$i")))
          q.processAllAvailable()
          sources += CorpusIngest.lastFilterSource.get()
        }
        batch(0L, 50L, Nil)
        batch(50L, 100L, 0L until 50L)
        batch(100L, 150L, Seq(3L, 77L))
        batch(150L, 200L, Seq(5L, 120L))
        names.during(batch(200L, 250L, Seq(7L, 170L)))
      } finally q.stop()
    } finally {
      spark.listenerManager.unregister(names)
      previous match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    assert(sources.toSeq === Seq("first-batch", "incremental", "regrown",
      "incremental", "incremental"))
    val filter = readFilter(ledger)
    assert(filter.bitSize() === 1024L)
    assert(filter.expectedFpp() > 0.01, s"filter should be saturated, fpp ${filter.expectedFpp()}")
    assert(readCapacity(ledger) === 256L, "the clamped filter must not regrow again")
    assert(clamped === Seq("head", "command", "command"),
      s"a clamped saturated batch must not count the ledger: $clamped")
    val texts = spark.read.parquet(out).select("text").as[String].collect()
    assert(texts.length === 250 && texts.distinct.length === 250)
  }

  test("streaming near-dedup drops a planted near-dup within the watermark, admits beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/neardup-ingest-spec")
    rm(base)
    // DISJOINT token sets per base doc: a shared small vocabulary would
    // make every doc's token distribution (hence simhash) near-equal
    var seed = 7L
    def nextInt(n: Int): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; (((seed >>> 33) % n).toInt + n) % n }
    def freshText(prefix: String) =
      (0 until 60).map(_ => s"$prefix${nextInt(100000)}").mkString(" ")
    def nearDup(t: String) = {
      val toks = t.split(" "); toks(7) = "zulu"; toks(31) = "yankee"; toks.mkString(" ")
    }
    val (a, b, c) = (freshText("apple"), freshText("berry"), freshText("cedar"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = NearDupIngest.ingestNearDedup(
      stream.toDF().toDF("doc_id", "ts", "text"),
      s"$base/index", s"$base/corpus", s"$base/ckpt",
      maxHamming = 12) // loose bar: these short docs flip many bits per edit
    try {
      stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), a),
        (2L, ts("2024-01-01 10:00:01"), b)))
      q.processAllAvailable()
      stream.addData(Seq(
        (3L, ts("2024-01-01 10:30:00"), nearDup(a)), // near-dup vs the standing index
        (4L, ts("2024-01-01 10:30:01"), c),
        (5L, ts("2024-01-01 10:30:02"), nearDup(c)), // in-batch near pair
        (6L, ts("2024-01-01 10:30:03"), b)))         // exact dup (hamming 0)
      q.processAllAvailable()
      val afterTwo = spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(afterTwo === Array(1L, 2L, 4L), s"got ${afterTwo.toSeq}")
      // the single-batch backfill (batch operator, greedy keep-min-id)
      // lands on the same corpus for this chain-free history
      val all6 = Seq((1L, a), (2L, b), (3L, nearDup(a)), (4L, c),
        (5L, nearDup(c)), (6L, b)).toDF("doc_id", "text")
      val sims = all6.select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), Documents.simhashCol.as("simhash"))
      val drop = Documents.simhashPairs(sims, maxHamming = 12)
        .select(col("d2").as("doc_id")).distinct()
      val batchKeep = all6.join(drop, Seq("doc_id"), "left_anti")
        .select("doc_id").as[Long].collect().sorted
      assert(afterTwo === batchKeep,
        "stream must equal the single-batch backfill on chain-free data")
      // beyond the 2 h horizon the same near-dup is ADMITTED — probe
      // state is bounded by the watermark, not the stream's lifetime
      stream.addData(Seq((7L, ts("2024-01-01 14:00:00"), nearDup(a))))
      q.processAllAvailable()
      val afterThree = spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(afterThree === Array(1L, 2L, 4L, 7L), s"got ${afterThree.toSeq}")
      // retention is a DIRECTORY DROP on the date-partitioned index —
      // and a fully-expired (empty) index must read as "no standing
      // signatures", not break the next batch
      val dropped = graft.streaming.IndexMaintenance.expireIndex(spark, s"$base/index",
        java.time.LocalDate.parse("2024-01-02"))
      assert(dropped === 1, s"dropped $dropped partitions")
      stream.addData(Seq((8L, ts("2024-01-01 15:00:00"), nearDup(b))))
      q.processAllAvailable()
      val afterExpire = spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(afterExpire === Array(1L, 2L, 4L, 7L, 8L),
        s"expired signatures must be forgotten: ${afterExpire.toSeq}")
      // an EMPTY micro-batch against a non-empty index must be a no-op,
      // not a max(ts)-of-nothing NPE (the LeakageIngest r11 lesson)
      stream.addData(Seq.empty[(Long, java.sql.Timestamp, String)])
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"empty batch must not fail: ${q.exception}")
    } finally q.stop()
  }

  test("near-dedup ingest replay of a committed batch is idempotent (retry at any crash point)") {
    val base = new java.io.File("target/neardup-replay-spec")
    rm(base)
    var seed = 7L
    def nextInt(n: Int): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; (((seed >>> 33) % n).toInt + n) % n }
    def freshText(prefix: String) =
      (0 until 60).map(_ => s"$prefix${nextInt(100000)}").mkString(" ")
    def nearDup(t: String) = {
      val toks = t.split(" "); toks(7) = "zulu"; toks(31) = "yankee"; toks.mkString(" ")
    }
    val (a, c) = (freshText("apple"), freshText("cedar"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def df(rows: (Long, java.sql.Timestamp, String)*) =
      spark.createDataFrame(rows).toDF("doc_id", "ts", "text")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long) =
      NearDupIngest.processBatch(batch, id, "specrun",
        s"$base/index", s"$base/corpus",
        maxHamming = 12, watermarkMs = 2L * 3600 * 1000)
    run(df((1L, ts("2024-01-01 10:00:00"), a)), 0L)
    val batch1 = df(
      (3L, ts("2024-01-01 10:30:00"), nearDup(a)), // probe drop
      (4L, ts("2024-01-01 10:30:01"), c))          // admit
    run(batch1, 1L)
    def corpusIds = spark.read.parquet(s"$base/corpus")
      .select("doc_id").as[Long].collect().sorted
    def indexRows = spark.read.parquet(s"$base/index")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toSet
    val (c1, i1) = (corpusIds, indexRows)
    assert(c1 === Array(1L, 4L), s"got ${c1.toSeq}")
    // retry AFTER both writes: without the batch_id < N probe filter,
    // doc 4 would self-match its own indexed signature and vanish from
    // the overwritten partition — the corpus would LOSE a document
    run(batch1, 1L)
    assert(corpusIds === c1, "retry after both writes must reproduce the corpus")
    assert(indexRows === i1, "retry after both writes must reproduce the index")
    // retry BETWEEN the writes (corpus written, index not): the old
    // plain-Append recipe double-appended here; dynamic overwrite must
    // replace the same partition instead. Simulate by dropping batch
    // 1's index partitions, then replaying.
    val fs = new org.apache.hadoop.fs.Path(s"$base/index")
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dropBatch1(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).filter(_.isDirectory).foreach { d =>
        if (d.getPath.getName == "batch_id=1") fs.delete(d.getPath, true)
        else dropBatch1(d.getPath)
      }
    dropBatch1(new org.apache.hadoop.fs.Path(s"$base/index"))
    run(batch1, 1L)
    assert(corpusIds === c1, "retry between writes must reproduce the corpus")
    assert(indexRows === i1, "retry between writes must rebuild the index partition")
    // a NEW incarnation (fresh token, batchId back at 0) must still
    // probe the OLD incarnation's standing index: with an ordering
    // filter (batch_id < 0) this near-dup would sail straight in
    NearDupIngest.processBatch(
      df((9L, ts("2024-01-01 10:40:00"), nearDup(a))), 0L, "specrun2",
      s"$base/index", s"$base/corpus",
      maxHamming = 12, watermarkMs = 2L * 3600 * 1000)
    assert(corpusIds === c1,
      "a fresh incarnation must drop near-dups against the standing index")
  }

  test("streaming leakage audit alerts on split-straddling near-dups, admits everything") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/leakage-ingest-spec")
    rm(base)
    var seed = 11L
    def nextInt(n: Int): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; (((seed >>> 33) % n).toInt + n) % n }
    def freshText(prefix: String) =
      (0 until 60).map(_ => s"$prefix${nextInt(100000)}").mkString(" ")
    // the spec computes each text's split LOCALLY (same md5-prefix rule
    // as Documents.splitExpr) and picks near-dup variants of `a` on
    // both sides of a split boundary — content-keyed assignment means
    // the fixture must search, not choose
    def splitOf(t: String): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2)
      if (h < "cc") "train" else if (h < "e6") "val" else "test"
    }
    def variant(t: String, i: Int) = {
      val toks = t.split(" "); toks(7) = s"zulu$i"; toks(31) = s"yankee$i"
      toks.mkString(" ")
    }
    val a = freshText("apple")
    val straddle = (0 until 400).map(variant(a, _))
      .find(v => splitOf(v) != splitOf(a)).get
    val same = (0 until 400).map(variant(a, _))
      .find(v => splitOf(v) == splitOf(a)).get
    val far = freshText("berry")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = LeakageIngest.ingestLeakageAudit(
      stream.toDF().toDF("doc_id", "ts", "text"),
      s"$base/index", s"$base/alerts", s"$base/ckpt",
      maxHamming = 12) // loose bar: short docs flip many bits per edit
    try {
      stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), a),
        (2L, ts("2024-01-01 10:00:01"), far)))
      q.processAllAvailable() // cold start: no index, no in-batch pair
      stream.addData(Seq(
        (3L, ts("2024-01-01 10:30:00"), straddle), // near a, OTHER split → alert
        (4L, ts("2024-01-01 10:30:01"), same)))    // near a, SAME split → index-quiet;
      q.processAllAvailable()                      //   but straddles 3 IN-BATCH → alert
      val alerts = spark.read.parquet(s"$base/alerts")
        .select("doc_id", "matched_id", "split_new", "split_old")
        .as[(Long, Long, String, String)].collect().toSeq.sorted
      assert(alerts === Seq(
        (3L, 1L, splitOf(straddle), splitOf(a)),
        (4L, 3L, splitOf(same), splitOf(straddle))), s"got $alerts")
      // an audit admits EVERYTHING — alerting is observation, not dedup
      val indexed = spark.read.parquet(s"$base/index")
        .select("doc_id").as[Long].collect().sorted
      assert(indexed === Array(1L, 2L, 3L, 4L))
      // beyond the horizon the straddling near-dup is NOT alerted —
      // probe state is bounded by the watermark (the batch audit over
      // the lake is the unbounded answer). The re-arrived `straddle`
      // text WOULD alert against doc 1 (splits differ, hamming ≤ bar)
      // were the 10:00 index entries still probed
      stream.addData(Seq((7L, ts("2024-01-01 14:00:00"), straddle)))
      q.processAllAvailable()
      val after = spark.read.parquet(s"$base/alerts")
        .select("doc_id").as[Long].collect().sorted
      assert(after === Array(3L, 4L), s"horizon must bound alerts: ${after.toSeq}")
      // an EMPTY micro-batch against a non-empty index must be a no-op,
      // not a max(ts)-of-nothing NPE that poisons the checkpoint retry
      stream.addData(Seq.empty[(Long, java.sql.Timestamp, String)])
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"empty batch must not fail: ${q.exception}")
      assert(spark.read.parquet(s"$base/alerts")
        .select("doc_id").as[Long].collect().sorted === Array(3L, 4L))
    } finally q.stop()
  }

  test("leakage audit replay of a committed batch is idempotent (retry after both writes)") {
    val base = new java.io.File("target/leakage-replay-spec")
    rm(base)
    var seed = 11L
    def nextInt(n: Int): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; (((seed >>> 33) % n).toInt + n) % n }
    def freshText(prefix: String) =
      (0 until 60).map(_ => s"$prefix${nextInt(100000)}").mkString(" ")
    def splitOf(t: String): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2)
      if (h < "cc") "train" else if (h < "e6") "val" else "test"
    }
    def variant(t: String, i: Int) = {
      val toks = t.split(" "); toks(7) = s"zulu$i"; toks(31) = s"yankee$i"
      toks.mkString(" ")
    }
    val a = freshText("apple")
    val straddle = (0 until 400).map(variant(a, _))
      .find(v => splitOf(v) != splitOf(a)).get
    val same = (0 until 400).map(variant(a, _))
      .find(v => splitOf(v) == splitOf(a)).get
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def df(rows: (Long, java.sql.Timestamp, String)*) =
      spark.createDataFrame(rows).toDF("doc_id", "ts", "text")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long) =
      LeakageIngest.processBatch(batch, id,
        graft.streaming.RunToken.of(spark, s"$base/ckpt"),
        s"$base/index", s"$base/alerts",
        maxHamming = 12, watermarkMs = 2L * 3600 * 1000)
    run(df((1L, ts("2024-01-01 10:00:00"), a)), 0L)
    val batch1 = df((3L, ts("2024-01-01 10:30:00"), straddle),
      (4L, ts("2024-01-01 10:30:01"), same))
    run(batch1, 1L)
    val once = spark.read.parquet(s"$base/alerts")
      .select("doc_id", "matched_id", "split_new", "split_old")
      .as[(Long, Long, String, String)].collect().toSeq.sorted
    assert(once === Seq(
      (3L, 1L, splitOf(straddle), splitOf(a)),
      (4L, 3L, splitOf(same), splitOf(straddle))), s"got $once")
    // the crash window the header claims: a checkpoint RETRY of batch 1
    // after BOTH writes succeeded. The standing-index probe must see
    // the pre-batch state (batch_id < 1), not its own first-attempt
    // rows — otherwise same-batch straddles re-derive in BOTH
    // directions and the rewritten alert partition carries duplicates
    run(batch1, 1L)
    val retried = spark.read.parquet(s"$base/alerts")
      .select("doc_id", "matched_id", "split_new", "split_old")
      .as[(Long, Long, String, String)].collect().toSeq.sorted
    assert(retried === once,
      s"retry must be idempotent\n got $retried\n exp $once")
    // a NEW incarnation (fresh token, batchId back at 0) must still
    // probe the old incarnation's standing index — an ordering filter
    // (batch_id < 0) would silently blind the audit to every
    // cross-incarnation straddle
    LeakageIngest.processBatch(
      df((9L, ts("2024-01-01 10:45:00"), straddle)), 0L, "otherrun",
      s"$base/index", s"$base/alerts",
      maxHamming = 12, watermarkMs = 2L * 3600 * 1000)
    val cross = spark.read.parquet(s"$base/alerts")
      .filter($"doc_id" === 9L).count()
    assert(cross >= 1,
      "fresh incarnation must alert against the standing index")
  }

  test("streaming image dedup drops 2x-re-encoded clones across and within batches; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/phash-ingest-spec")
    rm(base)
    import Multimodal.MediaTransform
    def img(id: Long): Array[Byte] =
      MediaTransform.bmpTexture(8 + (id % 32).toInt, 8 + ((id / 32) % 32).toInt, id)
    // a REAL resize + re-encode through the byte codecs — the planted
    // near-dup the dHash grid provably maps to Hamming 0
    def up2(b: Array[Byte]): Array[Byte] = {
      val (w, h, px) = MediaTransform.bmpPixels(b).get
      MediaTransform.encodeBmp(
        MediaTransform.resizeNearest(px, w, h, w * 2, h * 2), w * 2, h * 2)
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val q = PhashIngest.ingestImageDedup(
      stream.toDF().toDF("doc_id", "ts", "media"),
      s"$base/index", s"$base/corpus", s"$base/ckpt")
    val batch1 = Seq(
      (3L, ts("2024-01-01 10:30:00"), up2(img(1L))), // clone of 1 → probe drop
      (4L, ts("2024-01-01 10:30:01"), img(4L)),      // fresh → admit
      (5L, ts("2024-01-01 10:30:02"), up2(img(4L))), // in-batch clone of 4 → drop
      (6L, ts("2024-01-01 10:30:03"), "notanimage".getBytes)) // undecodable → admit, don't index
    try {
      stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), img(1L)),
        (2L, ts("2024-01-01 10:00:01"), img(2L))))
      q.processAllAvailable() // cold start: both distinct textures admitted
      stream.addData(batch1)
      q.processAllAvailable()
      val corpus = spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(corpus === Array(1L, 2L, 4L, 6L), s"got ${corpus.toSeq}")
      val indexed = spark.read.parquet(s"$base/index")
        .select("doc_id").as[Long].collect().sorted
      assert(indexed === Array(1L, 2L, 4L), "undecodable rows must not be indexed")
    } finally q.stop()
    // checkpoint-retry the committed batch 1 directly (the processBatch
    // replay hook): corpus and index must come out byte-equal — the
    // probe reads only batch_id < 1, so the retry cannot see its own
    // first-attempt rows and re-derive drops differently
    val again = spark.createDataFrame(batch1).toDF("doc_id", "ts", "media")
    PhashIngest.processBatch(again, 1L,
      graft.streaming.RunToken.of(spark, s"$base/ckpt"), // the SAME incarnation's token
      "image", s"$base/index", s"$base/corpus",
      maxHamming = 4, watermarkMs = 2L * 3600 * 1000)
    val corpusR = spark.read.parquet(s"$base/corpus")
      .select("doc_id").as[Long].collect().sorted
    assert(corpusR === Array(1L, 2L, 4L, 6L), s"replay changed corpus: ${corpusR.toSeq}")
    val indexR = spark.read.parquet(s"$base/index")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toSet
    assert(indexR.map(_._1) === Set(1L, 2L, 4L), s"replay changed index: $indexR")
  }

  test("streaming image dedup sniffs containers: a PNG clone of an indexed BMP is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/phash-png-ingest-spec")
    rm(base)
    import Multimodal.MediaTransform
    def bmp(id: Long): Array[Byte] =
      MediaTransform.bmpTexture(8 + (id % 32).toInt, 8 + ((id / 32) % 32).toInt, id)
    // the cross-container clone: decode the BMP, 2x-upscale, re-encode
    // as a REAL compressed PNG — the floor identity pins Hamming 0, so
    // the sniffing decode must drop it against the BMP's standing sig
    def pngClone(b: Array[Byte], colorType: Int): Array[Byte] = {
      val (w, h, px) = MediaTransform.pixelsOf(b).get
      MediaTransform.encodePng(
        MediaTransform.resizeNearest(px, w, h, w * 2, h * 2), w * 2, h * 2, colorType)
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val q = PhashIngest.ingestImageDedup(
      stream.toDF().toDF("doc_id", "ts", "media"),
      s"$base/index", s"$base/corpus", s"$base/ckpt")
    try {
      // a native GIF arrival: gray texture, palette-able by construction
      def grayOf(w: Int, h: Int, id: Long): Array[Byte] = {
        val c = MediaTransform.texturePixels(w, h, id)
        Array.tabulate(w * h * 3)(i => c((i / 3) * 3))
      }
      val gif7 = graft.operators.GifCodec.encode(grayOf(14, 11, 7L), 14, 11)
      val webp10 = graft.operators.WebpCodec.encode(
        MediaTransform.texturePixels(18, 13, 10L), 18, 13)
      stream.addData(Seq(
        (1L, ts("2024-01-01 10:00:00"), bmp(1L)),
        (2L, ts("2024-01-01 10:00:01"),
          MediaTransform.pngTexture(20, 20, 2L, 2)), // native PNG arrival
        (7L, ts("2024-01-01 10:00:02"), gif7),       // native GIF arrival
        (10L, ts("2024-01-01 10:00:03"), webp10)))   // native WebP (VP8L) arrival
      q.processAllAvailable()
      stream.addData(Seq(
        (3L, ts("2024-01-01 10:30:00"), pngClone(bmp(1L), 2)),   // RGB PNG of BMP 1 → drop
        (4L, ts("2024-01-01 10:30:01"), pngClone(bmp(1L), 6)),   // RGBA PNG of BMP 1 → drop
        (5L, ts("2024-01-01 10:30:02"), bmp(5L)),                // fresh BMP → admit
        // header-only PNG stub: sniffed as PNG but has no IDAT —
        // undecodable, so admit without indexing (the quarantine rule)
        (6L, ts("2024-01-01 10:30:03"), Multimodal.MediaEncoder.png(16, 16, 2)),
        // cross-container clones of the indexed GIF: a PNG save and an
        // interlaced 2x GIF re-encode — both must drop at Hamming 0
        (8L, ts("2024-01-01 10:30:04"), pngClone(gif7, 2)),
        (9L, ts("2024-01-01 10:30:05"), {
          val (gw, gh, gpx) = MediaTransform.pixelsOf(gif7).get
          graft.operators.GifCodec.encode(
            MediaTransform.resizeNearest(gpx, gw, gh, gw * 2, gh * 2),
            gw * 2, gh * 2, interlace = true)
        }),
        // WebP both directions: a VP8L save of the indexed BMP and a
        // PNG save of the indexed WebP — lossless re-encodes, so both
        // drop at Hamming 0 through the sniffing decode
        (11L, ts("2024-01-01 10:30:06"), {
          val (bw, bh, bpx) = MediaTransform.pixelsOf(bmp(1L)).get
          graft.operators.WebpCodec.encode(
            MediaTransform.resizeNearest(bpx, bw, bh, bw * 2, bh * 2),
            bw * 2, bh * 2, subtractGreen = true)
        }),
        (12L, ts("2024-01-01 10:30:07"), pngClone(webp10, 2))))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"batch must not fail: ${q.exception}")
      val corpus = spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(corpus === Array(1L, 2L, 5L, 6L, 7L, 10L), s"got ${corpus.toSeq}")
      val indexed = spark.read.parquet(s"$base/index")
        .select("doc_id").as[Long].collect().sorted
      assert(indexed === Array(1L, 2L, 5L, 7L, 10L), "undecodable stub must not be indexed")
    } finally q.stop()
  }

  test("streaming image dedup decodes baseline JPEG: a lossless re-encode of an indexed JPEG is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/phash-jpeg-ingest-spec")
    rm(base)
    import Multimodal.MediaTransform
    import graft.operators.JpegCodec
    def jpg(id: Long): Array[Byte] = {
      val w = 8 + (id % 32).toInt; val h = 8 + ((id / 32) % 32).toInt
      JpegCodec.encode(MediaTransform.texturePixels(w, h, id), w, h, 90)
    }
    // the clone the oracle recipe pins: decoded jpeg pixels, 2x
    // upscale, LOSSLESS re-encode — Hamming 0 by the floor identity
    def pngClone(b: Array[Byte]): Array[Byte] = {
      val (w, h, px) = MediaTransform.pixelsOf(b).get
      MediaTransform.encodePng(
        MediaTransform.resizeNearest(px, w, h, w * 2, h * 2), w * 2, h * 2, 2)
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val q = PhashIngest.ingestImageDedup(
      stream.toDF().toDF("doc_id", "ts", "media"),
      s"$base/index", s"$base/corpus", s"$base/ckpt")
    try {
      stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), jpg(1L))))
      q.processAllAvailable()
      stream.addData(Seq(
        (2L, ts("2024-01-01 10:30:00"), pngClone(jpg(1L))), // cross-container clone → drop
        (3L, ts("2024-01-01 10:30:01"), jpg(3L)),           // fresh jpeg → admit
        // the SAME photo saved progressive (SOF2): decodes
        // bit-identically to the indexed baseline → drop at Hamming 0
        (5L, ts("2024-01-01 10:30:01"), {
          val w = 8 + (1L % 32).toInt; val h = 8 + ((1L / 32) % 32).toInt
          JpegCodec.encodeProgressive(MediaTransform.texturePixels(w, h, 1L), w, h, 90)
        }),
        // header-only jpeg stub: sniffed but undecodable → admit, don't index
        (4L, ts("2024-01-01 10:30:02"), Multimodal.MediaEncoder.jpeg(16, 16, 3))))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"batch must not fail: ${q.exception}")
      val corpus = spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(corpus === Array(1L, 3L, 4L), s"got ${corpus.toSeq}")
      val indexed = spark.read.parquet(s"$base/index")
        .select("doc_id").as[Long].collect().sorted
      assert(indexed === Array(1L, 3L), "undecodable stub must not be indexed")
    } finally q.stop()
  }

  test("streaming audio dedup drops a 2x-resampled clip via the standing aHash index") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/ahash-ingest-spec")
    rm(base)
    import Multimodal.MediaTransform
    def clip(id: Long): Array[Byte] = MediaTransform.wavTexture(11000, 2, 137, id)
    // a REAL integer-factor resample through the byte codec — frames
    // duplicated, rate doubled, re-encoded — the planted near-dup the
    // aHash frame picks provably map to Hamming 0
    def up2(b: Array[Byte]): Array[Byte] = {
      val (r, c, f, s) = MediaTransform.wavSamples(b).get
      val dup = MediaTransform.frameDup(s, c, 2)
      val out = Multimodal.MediaEncoder.wav(r * 2, c, f * 2)
      val bb = java.nio.ByteBuffer.wrap(out)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      dup.indices.foreach(i => bb.putShort(44 + i * 2, dup(i)))
      out
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val q = PhashIngest.ingestAudioDedup(
      stream.toDF().toDF("doc_id", "ts", "media"),
      s"$base/index", s"$base/corpus", s"$base/ckpt")
    try {
      stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), clip(1L)),
        (2L, ts("2024-01-01 10:00:01"), clip(2L))))
      q.processAllAvailable()
      stream.addData(Seq(
        (3L, ts("2024-01-01 10:30:00"), up2(clip(1L))), // resampled clone → drop
        (4L, ts("2024-01-01 10:30:01"), clip(4L)),      // fresh → admit
        // 0-frame wav: structurally valid, nothing to hash — must be
        // admitted un-indexed, not a poison pill that wedges the batch
        (5L, ts("2024-01-01 10:30:02"), Multimodal.MediaEncoder.wav(8000, 1, 0))))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"0-frame wav must not fail the batch: ${q.exception}")
      val corpus = spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(corpus === Array(1L, 2L, 4L, 5L), s"got ${corpus.toSeq}")
      val indexed = spark.read.parquet(s"$base/index")
        .select("doc_id").as[Long].collect().sorted
      assert(indexed === Array(1L, 2L, 4L), "the unhashable clip must not be indexed")
    } finally q.stop()
  }

  test("streaming embedding dedup drops exact and near clones via the standing sign-sketch index") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/embed-ingest-spec")
    rm(base)
    import graft.streaming.EmbedIngest
    // deterministic 64-dim vectors in [-1,1] — independent ids land at
    // cosine ~0 (σ≈1/8), far below the 0.95 bar
    def vec(id: Long): Array[Float] = Array.tabulate(64) { j =>
      val m = Multimodal.MediaTransform.mix64(id * 1315423911L + j)
      ((m & 0xffff).toFloat / 32768f) - 1f
    }
    def scaled(v: Array[Float], s: Float) = v.map(_ * s)      // cosine exactly 1
    def nudged(v: Array[Float]) = {                            // cosine ≈ 0.9999
      val out = v.clone(); out(0) = out(0) * 1.01f + 0.003f; out
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Array[Float])]
    val q = EmbedIngest.ingestEmbedDedup(
      stream.toDF().toDF("doc_id", "ts", "embedding"),
      s"$base/index", s"$base/corpus", s"$base/ckpt")
    try {
      stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), vec(1L)),
        (2L, ts("2024-01-01 10:00:01"), vec(2L))))
      q.processAllAvailable() // cold start: independent vectors admitted
      stream.addData(Seq(
        (3L, ts("2024-01-01 10:30:00"), scaled(vec(1L), 0.5f)), // exact clone of 1 → drop
        (4L, ts("2024-01-01 10:30:01"), vec(4L)),               // fresh → admit
        (5L, ts("2024-01-01 10:30:02"), nudged(vec(4L))),       // in-batch near clone → drop
        (6L, ts("2024-01-01 10:30:03"), nudged(vec(1L)))))      // near clone of standing 1 → drop
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"batch must not fail: ${q.exception}")
      val corpus = spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(corpus === Array(1L, 2L, 4L), s"got ${corpus.toSeq}")
      // beyond the 2 h horizon the same clone is ADMITTED — probe state
      // is bounded by the watermark, not the stream's lifetime
      stream.addData(Seq((7L, ts("2024-01-01 14:00:00"), scaled(vec(1L), 2f))))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted === Array(1L, 2L, 4L, 7L))
      // empty micro-batch: no-op, not a max(ts)-of-nothing NPE
      stream.addData(Seq.empty[(Long, java.sql.Timestamp, Array[Float])])
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"empty batch must not fail: ${q.exception}")
    } finally q.stop()
    // retention stays a directory drop (same date-partitioned layout)
    assert(graft.streaming.IndexMaintenance.expireIndex(spark, s"$base/index",
      java.time.LocalDate.parse("2024-01-02")) === 1)
  }

  test("embedding dedup ingest replay of a committed batch is idempotent; fresh incarnation still probes") {
    val base = new java.io.File("target/embed-replay-spec")
    rm(base)
    import graft.streaming.EmbedIngest
    def vec(id: Long): Array[Float] = Array.tabulate(64) { j =>
      val m = Multimodal.MediaTransform.mix64(id * 1315423911L + j)
      ((m & 0xffff).toFloat / 32768f) - 1f
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def df(rows: (Long, java.sql.Timestamp, Array[Float])*) =
      spark.createDataFrame(rows).toDF("doc_id", "ts", "embedding")
    def run(batch: org.apache.spark.sql.DataFrame, id: Long, tok: String = "specrun") =
      EmbedIngest.processBatch(batch, id, tok, s"$base/index", s"$base/corpus",
        simThreshold = 0.95, bandBits = 16, watermarkMs = 2L * 3600 * 1000)
    run(df((1L, ts("2024-01-01 10:00:00"), vec(1L))), 0L)
    val batch1 = df(
      (3L, ts("2024-01-01 10:30:00"), vec(1L).map(_ * 0.5f)), // clone of 1 → drop
      (4L, ts("2024-01-01 10:30:01"), vec(4L)))               // admit
    run(batch1, 1L)
    def corpusIds = spark.read.parquet(s"$base/corpus")
      .select("doc_id").as[Long].collect().sorted
    def indexIds = spark.read.parquet(s"$base/index")
      .select("doc_id").as[Long].collect().sorted
    assert(corpusIds === Array(1L, 4L))
    // retry AFTER both writes: the probe must exclude the retry's own
    // first-attempt rows (else doc 4 self-matches and vanishes)
    run(batch1, 1L)
    assert(corpusIds === Array(1L, 4L), "retry must reproduce the corpus")
    assert(indexIds === Array(1L, 4L), "retry must reproduce the index")
    // a NEW incarnation (fresh token, batchId back at 0) must still
    // drop clones against the standing index
    run(df((9L, ts("2024-01-01 10:40:00"), vec(4L).map(_ * 3f))), 0L, "otherrun")
    assert(corpusIds === Array(1L, 4L),
      "fresh incarnation must drop clones against the standing index")
  }

  test("an embedding ingest batch against an empty index drops exactly the batch operator's d2 set") {
    // the stream and the batch backfill share one sketch, one band
    // layout and one verify, so a batch with no standing index must drop
    // precisely the larger id of every pair the batch operator reports
    val base = new java.io.File("target/embed-agreement-spec")
    rm(base)
    def vec(id: Long): Array[Float] = Array.tabulate(64) { j =>
      val m = Multimodal.MediaTransform.mix64(id * 1315423911L + j)
      ((m & 0xffff).toFloat / 32768f) - 1f
    }
    def nudged(v: Array[Float], j: Int) = {                   // cosine ≈ 0.9999
      val out = v.clone(); out(j) = out(j) * 1.01f + 0.003f; out
    }
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val vecs = (1L to 20L).map(i => i -> vec(i)) ++ Seq(
      21L -> vec(1L).map(_ * 0.5f),              // exact clone of 1
      22L -> nudged(vec(2L), 0),                 // near clone of 2
      23L -> nudged(nudged(vec(2L), 0), 5),      // near clone of 2 and of 22
      24L -> nudged(vec(20L), 3),                // near clone of a larger id's twin
      25L -> vec(7L).map(_ * 3f))                // exact clone of 7
    val df = spark.createDataFrame(vecs.map { case (i, v) => (i, ts, v) })
      .toDF("doc_id", "ts", "embedding")
    EmbedIngest.processBatch(df, 0L, "specrun", s"$base/index", s"$base/corpus",
      simThreshold = 0.95, bandBits = 16, watermarkMs = 2L * 3600 * 1000)
    val kept = spark.read.parquet(s"$base/corpus").select("doc_id").as[Long].collect().toSet
    val dropped = vecs.map(_._1).toSet -- kept
    val d2 = graft.operators.Embeddings
      .embedCosinePairs(df.select(col("doc_id").as("vec_id"), col("embedding")),
        simThreshold = 0.95, bandBits = 16)
      .select("d2").as[Long].collect().toSet
    assert(d2 === Set(21L, 22L, 23L, 24L, 25L))
    assert(dropped === d2)
  }

  test("embedding dedup ingest admits a vector whose only near twin was dropped by the probe") {
    // greedy streaming order, as in the near-dup ingest: an arrival that
    // matches the standing index is dropped, and a later arrival near
    // ONLY that dropped one is admitted
    val base = new java.io.File("target/embed-greedy-spec")
    rm(base)
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def raw(id: Long): Array[Double] = Array.tabulate(64) { j =>
      ((Multimodal.MediaTransform.mix64(id * 1315423911L + j) & 0xffff).toDouble / 32768.0) - 1.0
    }
    val u = unit(raw(1L))
    val v = { val w = raw(2L); val d = w.zip(u).map { case (x, y) => x * y }.sum
      unit(w.zip(u).map { case (x, y) => x - d * y }) }     // orthonormal to u
    def at(deg: Double): Array[Float] = u.zip(v).map { case (x, y) =>
      (math.cos(math.toRadians(deg)) * x + math.sin(math.toRadians(deg)) * y).toFloat }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def df(rows: (Long, java.sql.Timestamp, Array[Float])*) =
      spark.createDataFrame(rows).toDF("doc_id", "ts", "embedding")
    // 1 at 0°, 2 at 4°, 3 at 8°: 1~2 and 2~3 clear 0.995, 1~3 (≈ 0.990) does not
    val all = df((1L, ts("2024-01-01 10:00:00"), at(0)), (2L, ts("2024-01-01 10:30:00"), at(4)),
      (3L, ts("2024-01-01 10:30:01"), at(8)))
    assert(graft.operators.Embeddings.embedCosinePairs(
        all.select(col("doc_id").as("vec_id"), col("embedding")), simThreshold = 0.995, bandBits = 16)
      .select("d1", "d2").as[(Long, Long)].collect().toSet === Set((1L, 2L), (2L, 3L)))
    def run(batch: org.apache.spark.sql.DataFrame, id: Long) =
      EmbedIngest.processBatch(batch, id, "specrun", s"$base/index", s"$base/corpus",
        simThreshold = 0.995, bandBits = 16, watermarkMs = 2L * 3600 * 1000)
    run(all.filter(col("doc_id") === 1L), 0L)
    run(all.filter(col("doc_id") > 1L), 1L)
    assert(spark.read.parquet(s"$base/corpus").select("doc_id").as[Long].collect().sorted ===
      Array(1L, 3L))
  }

  test("embedding dedup ingest rejects a band width outside 8..32 before the stream starts") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/embed-bandbits-spec")
    rm(base)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Array[Float])]
    val e = intercept[IllegalArgumentException] {
      EmbedIngest.ingestEmbedDedup(stream.toDF().toDF("doc_id", "ts", "embedding"),
        s"$base/index", s"$base/corpus", s"$base/ckpt", bandBits = 0)
    }
    assert(e.getMessage.contains("bandBits"), e.getMessage)
    assert(!new java.io.File(s"$base/ckpt").exists(), "no checkpoint for a rejected stream")
  }

  test("streaming video dedup drops a 2x-fps re-encode via the standing tHash index") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/vhash-ingest-spec")
    rm(base)
    import Multimodal.MediaTransform.texturePixels
    import graft.operators.AviCodec
    def clip(id: Long): Array[Byte] = {
      val (w, h) = (8 + (id % 8).toInt, 8 + ((id / 8) % 8).toInt)
      AviCodec.encode((0 until 70).map(f => texturePixels(w, h, id * 131 + f)), w, h, 10)
    }
    def dup2(b: Array[Byte]): Array[Byte] = {
      val (w, h, fps, frames) = AviCodec.decode(b).get
      AviCodec.encode(frames.flatMap(f => Seq(f, f)), w, h, fps * 2)
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val q = PhashIngest.ingestVideoDedup(
      stream.toDF().toDF("doc_id", "ts", "media"),
      s"$base/index", s"$base/corpus", s"$base/ckpt")
    try {
      stream.addData(Seq((1L, ts("2024-01-01 10:00:00"), clip(1L)),
        (2L, ts("2024-01-01 10:00:01"), clip(2L))))
      q.processAllAvailable()
      stream.addData(Seq(
        (3L, ts("2024-01-01 10:30:00"), dup2(clip(1L))), // 2x-fps re-encode → drop
        (4L, ts("2024-01-01 10:30:01"), clip(4L)),       // fresh → admit
        // 10-frame clip: decodes but is too short to signature — the
        // admit-don't-index rule, not a poison pill
        (5L, ts("2024-01-01 10:30:02"),
          AviCodec.encode((0 until 10).map(f => texturePixels(8, 8, 999L + f)), 8, 8, 10)),
        // native COMPRESSED arrival: an MJPEG clip admits and indexes
        // through the same seam (its tHash is over the DECODED frames,
        // so the guaranteed drop below is the mjpegSigs identity
        // streamed — lossless re-encode of decoded pixels, never a
        // cross-quantization comparison)
        (6L, ts("2024-01-01 10:30:03"), {
          val (w, h, _, frames) = AviCodec.decode(clip(6L)).get
          AviCodec.encodeMjpeg(frames, w, h, 10) // native MJPEG arrival → admit+index
        })))
      q.processAllAvailable()
      stream.addData(Seq(
        (7L, ts("2024-01-01 10:55:00"), { // lossless 2x of the DECODED MJPEG → drop
          val (w, h, _, frames) = AviCodec.decode(clip(6L)).get
          val mj = AviCodec.encodeMjpeg(frames, w, h, 10)
          val (dw, dh, _, dec) = AviCodec.decode(mj).get
          AviCodec.encode(dec.flatMap(f => Seq(f, f)), dw, dh, 20)
        })))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"batch must not fail: ${q.exception}")
      val corpus = spark.read.parquet(s"$base/corpus")
        .select("doc_id").as[Long].collect().sorted
      assert(corpus === Array(1L, 2L, 4L, 5L, 6L), s"got ${corpus.toSeq}")
      val indexed = spark.read.parquet(s"$base/index")
        .select("doc_id").as[Long].collect().sorted
      assert(indexed === Array(1L, 2L, 4L, 6L), "the short clip must not be indexed")
    } finally q.stop()
  }

  test("streaming release diff equals the batch diff under shuffled arrival and arbitrary slicing") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File("target/release-diff-spec")
    rm(base)
    // the registered corpus_release_diff fixture, on the real table:
    // prev = cur minus every 50th (added), every 30th edited (changed),
    // every 70th duplicated under a phantom id (removed)
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
      .select("doc_id", "source", "text")
    val prev = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.when(col("doc_id") % 30 === 0,
          org.apache.spark.sql.functions.concat(col("text"),
            org.apache.spark.sql.functions.lit(" legacy")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 70 === 0)
        .select((col("doc_id") + org.apache.spark.sql.functions.lit(20000000L)).as("doc_id"),
          col("source"), col("text")))
    ReleaseDiffIngest.indexRelease(prev, s"$base/index")

    val expect = Documents.releaseDiff(docs, prev)
      .as[(String, String, Long)].collect().toSeq

    // current release arrives SHUFFLED (deterministic md5 order — the
    // opposite of doc_id order) and sliced into 3 uneven micro-batches
    val cur = docs.as[(Long, String, String)].collect()
      .sortBy { case (id, _, _) => java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).map("%02x".format(_)).mkString }
    val slices = Seq(cur.take(7), cur.slice(7, 211), cur.drop(211))
    val stream = MemoryStream[(Long, String, String)]
    val q = ReleaseDiffIngest.ingestReleaseDiff(
      stream.toDF().toDF("doc_id", "source", "text"),
      s"$base/index", s"$base/ledger", s"$base/ckpt")
    try {
      // mid-stream, the running diff over-reports ONLY `removed`
      // (not-yet-seen docs) — every other status is final per doc
      stream.addData(slices.head)
      q.processAllAvailable()
      val mid = ReleaseDiffIngest.diff(spark, s"$base/index", s"$base/ledger")
        .as[(String, String, Long)].collect().toSeq
      val midMap = mid.groupBy(t => (t._1, t._2)).view.mapValues(_.head._3)
      for ((src, st, n) <- expect if st != "removed" && st != "unchanged" && st != "changed")
        assert(midMap.getOrElse((src, st), 0L) <= n, s"mid-stream $src/$st over-counts")
      slices.tail.foreach { s => stream.addData(s); q.processAllAvailable() }
      val got = ReleaseDiffIngest.diff(spark, s"$base/index", s"$base/ledger")
        .as[(String, String, Long)].collect().toSeq
      assert(got === expect, s"stream diff must equal batch diff\n got $got\n exp $expect")
      // at-least-once sources RE-DELIVER docs in later micro-batches
      // (new batch_id, so dynamic overwrite cannot collapse them) —
      // diff() dedups the ledger per doc_id, so counts must not move
      stream.addData(slices.head)
      q.processAllAvailable()
      val redelivered = ReleaseDiffIngest.diff(spark, s"$base/index", s"$base/ledger")
        .as[(String, String, Long)].collect().toSeq
      assert(redelivered === expect,
        s"re-delivered docs must not double-count\n got $redelivered\n exp $expect")
    } finally q.stop()
    // manifest-level triage: a release diffed against itself is quiet;
    // against the edited prev, the changed shards surface
    val mCur = Documents.shardManifest(docs)
    assert(ReleaseDiffIngest.shardTriage(mCur, mCur).count() === 0)
    assert(ReleaseDiffIngest.shardTriage(mCur, Documents.shardManifest(prev)).count() > 0)
  }

  test("d-leading index auto-compaction: probe invariant for the live batch, date dirs survive") {
    // the near-dup / embed / phash standing indexes all write with a
    // `d` DATE leading level (expiry = directory delete); their new
    // in-batch autoCompact call rides the same compactIndexLive as the
    // crawl ledger, but the d-leading layout is the variant the crawl
    // spec never exercised — pin that the retry contract AND the
    // retention layout both survive consolidation
    import graft.streaming.{IndexMaintenance, ReplaySafeSink}
    val base = new java.io.File("target/dleading-compact-spec")
    if (base.exists()) rm(base)
    val dir = s"${base.getPath}/index"
    val token = "tok0123abcd1"
    for (b <- 0L to 4L)
      ReplaySafeSink.writeBatch(
        Seq((b, s"2024-0${b % 2 + 1}-01")).toDF("doc_id", "d")
          .select(col("doc_id"), col("d").cast("date")),
        dir, token, b, leading = Seq("d"))
    def probe(b: Long): Seq[Long] =
      ReplaySafeSink.standingRows(spark, dir, token, b).get
        .select("doc_id").as[Long].collect().sorted.toSeq
    val pre = probe(4L)
    assert(pre === Seq(0L, 1L, 2L, 3L))
    val n = IndexMaintenance.autoCompact(spark, dir, token, 4L, everyBatches = 2)
    assert(n === 4, "batches 0..3 must consolidate away")
    assert(probe(4L) === pre,
      "compaction must not change what a retry of the live batch sees")
    // the date level stays LEADING so expiry remains a directory
    // delete and the probe's cutoff filter still partition-prunes
    val dDirs = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("d=")).map(_.getName).sorted
    assert(dDirs.toSeq === Seq("d=2024-01-01", "d=2024-02-01"),
      s"compaction must preserve the d-leading layout, got ${dDirs.toSeq}")
    assert(new java.io.File(s"$dir/d=2024-01-01/ingest_run=$token/batch_id=4").exists(),
      "the live batch's partition must be untouched")
    // retry of the live batch: deterministic overwrite, rows invariant
    ReplaySafeSink.writeBatch(
      Seq((4L, "2024-01-01")).toDF("doc_id", "d")
        .select(col("doc_id"), col("d").cast("date")),
      dir, token, 4L, leading = Seq("d"))
    assert(spark.read.parquet(dir).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("plain-ledger auto-compaction: hash set invariant, file count bounded, Bloom sidecar untouched") {
    import graft.streaming.IndexMaintenance
    val base = new java.io.File("target/plainledger-compact-spec")
    if (base.exists()) rm(base)
    val dir = s"${base.getPath}/ledger"
    // many small appends — the shape a foreachBatch ledger produces —
    // plus a duplicated append standing in for a crashed write-forward
    // (set semantics must absorb it)
    for (b <- 0 until 6)
      Seq(s"h$b", s"h${b + 100}").toDF("h")
        .coalesce(1).write.mode("append").parquet(dir)
    Seq("h0", "h100").toDF("h").coalesce(1).write.mode("append").parquet(dir)
    val bloomDir = new java.io.File(s"$dir/_bloom")
    bloomDir.mkdirs()
    val marker = new java.io.File(bloomDir, "filter.bf")
    java.nio.file.Files.write(marker.toPath, Array[Byte](1, 2, 3))
    def ledgerSet(): Seq[String] =
      spark.read.parquet(dir).select("h").as[String].collect().sorted.toSeq
    def dataFileCount(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }
    val pre = ledgerSet()
    val preFiles = dataFileCount()
    assert(preFiles >= 7)
    // below minFiles: churn guard, no-op
    assert(IndexMaintenance.compactPlainLedger(spark, dir, minFiles = 1000) === 0)
    assert(dataFileCount() === preFiles)
    val consumed = IndexMaintenance.compactPlainLedger(spark, dir, minFiles = 4)
    assert(consumed === preFiles, "every pre-existing data file must be consumed")
    assert(ledgerSet() === pre.distinct.sorted,
      "compaction must preserve the hash SET (and converge the crash duplicates)")
    assert(dataFileCount() <= 8, "consolidated ledger must be a bounded file set")
    assert(marker.exists() && java.nio.file.Files.readAllBytes(marker.toPath).length === 3,
      "the Bloom sidecar under _bloom must be untouched")
    // cadence wrapper: off-cadence is a free no-op
    assert(IndexMaintenance.autoCompactPlain(spark, dir, batchId = 33L) === 0)
  }

  /** Seeded 60-token texts over disjoint per-prefix vocabularies (a
    * shared small vocabulary would make every simhash near-equal), their
    * near-dup variants, and the content-hash split rule of
    * [[Documents.splitExpr]], computed locally. */
  private class Texts(private var seed: Long) {
    private def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n).toInt + n) % n
    }
    def fresh(prefix: String): String =
      (0 until 60).map(_ => s"$prefix${nextInt(100000)}").mkString(" ")
    def variant(t: String, i: Int): String = {
      val toks = t.split(" "); toks(7) = s"zulu$i"; toks(31) = s"yankee$i"
      toks.mkString(" ")
    }
    def splitOf(t: String): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(2)
      if (h < "cc") "train" else if (h < "e6") "val" else "test"
    }
  }

  private def instant(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))

  private def textBatch(rows: (Long, java.sql.Timestamp, String)*) =
    spark.createDataFrame(rows).toDF("doc_id", "ts", "text")

  private def parquetFileCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }

  test("a steady near-dup, leakage, embed and phash batch each run three SQL executions") {
    val base = new java.io.File("target/index-ingest-executions")
    rm(base)
    val texts = new Texts(5L)
    val (a, b, c) = (texts.fresh("apple"), texts.fresh("berry"), texts.fresh("cedar"))
    def vec(id: Long): Array[Float] = Array.tabulate(64) { j =>
      val m = Multimodal.MediaTransform.mix64(id * 1315423911L + j)
      ((m & 0xffff).toFloat / 32768f) - 1f
    }
    def img(id: Long): Array[Byte] = Multimodal.MediaTransform.bmpTexture(12, 12, id)
    val hour = 3600L * 1000
    // batch 0 builds the standing index; batch 1 is the steady batch:
    // a probe hit against the index plus a fresh row
    val ingests: Seq[(String, Long => Unit)] = Seq(
      "near-dup" -> { id =>
        val rows = if (id == 0) Seq((1L, instant("2024-01-01T10:00:00Z"), a))
          else Seq((2L, instant("2024-01-01T10:30:00Z"), texts.variant(a, 0)),
            (3L, instant("2024-01-01T10:30:01Z"), b))
        NearDupIngest.processBatch(textBatch(rows: _*), id, "specrun",
          s"$base/neardup/index", s"$base/neardup/corpus", 12, 2 * hour)
      },
      "leakage" -> { id =>
        val rows = if (id == 0) Seq((1L, instant("2024-01-01T10:00:00Z"), a))
          else Seq((2L, instant("2024-01-01T10:30:00Z"), texts.variant(a, 0)),
            (3L, instant("2024-01-01T10:30:01Z"), c))
        LeakageIngest.processBatch(textBatch(rows: _*), id, "specrun",
          s"$base/leakage/index", s"$base/leakage/alerts", 12, 2 * hour)
      },
      "embed" -> { id =>
        val rows = if (id == 0) Seq((1L, instant("2024-01-01T10:00:00Z"), vec(1L)))
          else Seq((2L, instant("2024-01-01T10:30:00Z"), vec(1L).map(_ * 0.5f)),
            (3L, instant("2024-01-01T10:30:01Z"), vec(3L)))
        EmbedIngest.processBatch(spark.createDataFrame(rows).toDF("doc_id", "ts", "embedding"),
          id, "specrun", s"$base/embed/index", s"$base/embed/corpus", 0.95, 16, 2 * hour)
      },
      "phash" -> { id =>
        val rows = if (id == 0) Seq((1L, instant("2024-01-01T10:00:00Z"), img(1L)))
          else Seq((2L, instant("2024-01-01T10:30:00Z"), img(1L)),
            (3L, instant("2024-01-01T10:30:01Z"), img(3L)))
        PhashIngest.processBatch(spark.createDataFrame(rows).toDF("doc_id", "ts", "media"),
          id, "specrun", "image", s"$base/phash/index", s"$base/phash/corpus", 4, 2 * hour)
      })
    val names = new ExecutionNames
    spark.listenerManager.register(names)
    val steady = try ingests.map { case (name, run) =>
      run(0L)
      name -> names.during(run(1L))
    } finally spark.listenerManager.unregister(names)
    // one aggregate (empty guard and watermark cutoff), the output
    // write and the index write — no isEmpty job of its own
    assert(steady.toMap === ingests.map(_._1 -> Seq("head", "command", "command")).toMap,
      s"steady batches ran: $steady")
    def ids(dir: String) = spark.read.parquet(dir).select("doc_id").as[Long].collect().sorted
    assert(ids(s"$base/neardup/corpus") === Array(1L, 3L))
    assert(ids(s"$base/leakage/index") === Array(1L, 2L, 3L))
    assert(ids(s"$base/embed/corpus") === Array(1L, 3L))
    assert(ids(s"$base/phash/corpus") === Array(1L, 3L))
  }

  test("standingRows with the store's schema given launches no job") {
    val base = new java.io.File("target/standing-rows-jobs")
    rm(base)
    val dir = s"$base/index"
    for (b <- 0L to 2L)
      ReplaySafeSink.writeBatch(Seq((b, s"u$b")).toDF("doc_id", "url"), dir, "tok", b)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsDuring(body: => Unit): Int = {
      ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      body
      ListenerBusDrain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val inferred = jobsDuring(ReplaySafeSink.standingRows(spark, dir, "tok", 2L))
      assert(inferred > 0, "without a schema the read infers it with a job")
      var rows: Option[org.apache.spark.sql.DataFrame] = None
      val withSchema = jobsDuring {
        rows = ReplaySafeSink.standingRows(spark, dir, "tok", 2L,
          Some(org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, url STRING")))
      }
      assert(withSchema === 0, s"the schema-given read launched $withSchema jobs")
      assert(rows.get.select("url").as[String].collect().sorted === Array("u0", "u1"))
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("the horizon read prunes index date partitions, with a day of slack across time zones") {
    val base = new java.io.File("target/horizon-prune-spec")
    rm(base)
    val texts = new Texts(9L)
    val (a, b) = (texts.fresh("apple"), texts.fresh("berry"))
    def run(id: Long, rows: (Long, java.sql.Timestamp, String)*): Unit =
      NearDupIngest.processBatch(textBatch(rows: _*), id, "specrun",
        s"$base/index", s"$base/corpus", maxHamming = 12, watermarkMs = 2L * 3600 * 1000)
    val key = "spark.sql.session.timeZone"
    val previous = spark.conf.get(key)
    val names = new ExecutionNames
    spark.listenerManager.register(names)
    try {
      // 22:30 on Jan 1 in Los Angeles, 06:30 on Jan 2 in UTC: the index
      // row lands under d=2024-01-01
      spark.conf.set(key, "America/Los_Angeles")
      run(0L, (1L, instant("2024-01-02T06:30:00Z"), a))
      spark.conf.set(key, "UTC")
      // half an hour later, probed under UTC: the cutoff (05:00Z Jan 2)
      // falls on Jan 2, so a prune without the day of slack would skip
      // the d=2024-01-01 partition and admit the near-dup
      names.during(run(1L, (2L, instant("2024-01-02T07:00:00Z"), texts.variant(a, 0)),
        (3L, instant("2024-01-02T07:00:01Z"), b)))
    } finally {
      spark.listenerManager.unregister(names)
      spark.conf.set(key, previous)
    }
    assert(new java.io.File(s"$base/index/d=2024-01-01").isDirectory)
    assert(spark.read.parquet(s"$base/corpus").select("doc_id").as[Long]
      .collect().sorted === Array(1L, 3L), "the near-dup across midnight must be dropped")
    // the probe runs inside the persisted survivors, which the writes
    // read through the cache
    object Walk extends AdaptiveSparkPlanHelper {
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = flatMap(p) {
        case s: FileSourceScanExec => Seq(s)
        case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
        case _ => Nil
      }
    }
    val indexScans = names.plans.asScala.toSeq.flatMap(Walk.scans)
      .filter(_.relation.location.rootPaths.exists(_.toString.endsWith("/index")))
    assert(indexScans.nonEmpty, "the steady batch must scan the standing index")
    assert(indexScans.forall(_.partitionFilters.exists(_.references.exists(_.name == "d"))),
      s"every index scan must prune on d: ${indexScans.map(_.partitionFilters)}")
  }

  test("the leakage index compacts on the cadence; a later straddle alerts as before") {
    val base = new java.io.File("target/leakage-compact-spec")
    rm(base)
    val texts = new Texts(11L)
    val a = texts.fresh("apple")
    val straddle = (0 until 400).map(texts.variant(a, _))
      .find(v => texts.splitOf(v) != texts.splitOf(a)).get
    def at(minute: Long) = instant("2024-01-01T10:00:00Z").toInstant.plusSeconds(60 * minute)
    def run(id: Long, text: String): Unit =
      LeakageIngest.processBatch(
        textBatch((id + 1, java.sql.Timestamp.from(at(id)), text)), id, "specrun",
        s"$base/index", s"$base/alerts", maxHamming = 12, watermarkMs = 2L * 3600 * 1000)
    run(0L, a)
    for (id <- 1L to 31L) run(id, texts.fresh(s"t$id"))
    val before = parquetFileCount(s"$base/index")
    assert(before >= 32, s"one index partition per batch, got $before files")
    run(32L, texts.fresh("t32")) // batch 32 is on the default cadence
    val after = parquetFileCount(s"$base/index")
    assert(after < before, s"compaction must shrink the index: $before -> $after files")
    assert(spark.read.parquet(s"$base/index").select("doc_id").as[Long].collect().sorted ===
      (1L to 33L).toArray, "compaction must keep every indexed arrival")
    run(33L, straddle)
    val alerts = spark.read.parquet(s"$base/alerts")
      .select("doc_id", "matched_id", "split_new", "split_old")
      .as[(Long, Long, String, String)].collect().toSeq
    assert(alerts === Seq((34L, 1L, texts.splitOf(straddle), texts.splitOf(a))),
      s"got $alerts")
  }
}
