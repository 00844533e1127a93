package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** LLM-training-data pipeline operators over the `documents` table
  * (doc_id, text, lang, source, n_chars).
  *
  * These are the operations a 100-TB corpus pipeline runs before
  * training: exact + near deduplication, fingerprinting, quality
  * scoring, token statistics. None exist in the reference (its surface
  * is purely relational, SURVEY.md §2.6) — they are the beyond-parity
  * tier the engine is for.
  *
  * Design rules:
  *  - Everything is built from codegen'd `org.apache.spark.sql.functions`
  *    and higher-order array functions — zero UDFs, so whole-stage
  *    codegen spans the full pipeline.
  *  - Near-dup detection never goes all-pairs: candidate generation is
  *    an inverted-index join (shingle → doc list) or an LSH band join,
  *    both of which shuffle on a key and scale linearly with corpus
  *    size × bucket width instead of quadratically.
  *  - Per-document work (simhash, fingerprints, quality stats) is a
  *    pure map — no shuffle at all — so it scales embarrassingly.
  */
object Documents {

  /** SQL for the word-k-gram array over a token-array column `t`,
    * duplicates preserved — the single home of the slice/zip_with
    * idiom shared by the shingle and repetition paths.
    *
    * Built as a zip_with over k shifted slices rather than
    * `transform(sequence, i -> t[i]..t[i+k-1])`: higher-order
    * functions run interpreted, and Catalyst's predicate rewrites
    * (alias substitution, InferFiltersFromGenerate) can re-evaluate a
    * column's defining expression — the indexed form references the
    * token array O(k·len) times and degraded to re-splitting the text
    * per element when inlined into a predicate (observed via thread
    * dump: the whole query pinned in StringSplit under a Predicate).
    * The slice form references `t` exactly k+1 times, bounding
    * re-evaluation cost. */
  private[operators] def kgramSql(k: Int): String = {
    def slc(j: Int) = s"slice(t, $j, size(t) - ${k - 1})"
    (2 to k).foldLeft(slc(1)) { (acc, j) =>
      s"zip_with($acc, ${slc(j)}, (a, b) -> concat(a, ' ', b))"
    }
  }

  /** Distinct word k-shingles per document as an array column —
    * the building block shared by the Jaccard, MinHash, and
    * fingerprint paths. Documents shorter than k tokens get an empty
    * array. */
  def shingleArray(docs: DataFrame, k: Int = 3): DataFrame =
    docs
      .withColumn("t", split(col("text"), " "))
      // ONE codegen'd window walk (r16, VectorExpressions.ShingleGrams)
      // instead of the interpreted zip_with/slice/concat chain +
      // array_distinct — value-identical (same gram bytes, same
      // first-occurrence distinct, null windows null the gram like
      // concat, <k tokens → empty). coalesce reproduces the old CASE's
      // else-arm for a null token array (size(null) never ≥ k).
      .withColumn("sh", coalesce(
        graft.functions.VectorExpressions.shingleGrams(col("t"), k, distinct = true),
        typedLit(Array.empty[String])))
      .drop("t")

  /** Same, exploded to `(doc_id, s)` rows — HASHED to an 8-byte key
    * and REPARTITIONED ON IT — the inverted-index form. Hashing before
    * the shuffle matters at scale: a word-3-gram averages ~20 bytes,
    * so shuffling strings costs ~3× the bytes of the xxhash64 key for
    * identical grouping semantics (collisions over 64 bits are
    * negligible at any realistic corpus). The repartition is both the
    * scale shape (downstream bucket aggregation is co-partitioned, so
    * it shuffles exactly once) and a materialization boundary: after
    * the shuffle, `s` is a concrete column, so no optimizer rewrite
    * can push a predicate below it and re-run shingle construction
    * per probe.
    *
    * `numPartitions` > 0 overrides the session shuffle-partition count
    * — see [[pairShufflePartitions]] for why the pair family MUST
    * scale it with the corpus.
    *
    * `(wave, waves)` slices the SHINGLE-HASH space for the staged
    * sweep ([[bucketCounts]]): the slice filter sits BEFORE the
    * repartition, so only 1/waves of the shingle stream ever enters
    * the shuffle — filtering after it would shrink nothing. Each
    * shingle value lands wholly in one wave (the filter keys on the
    * same hash the buckets group by), so per-wave bucket sizes, df
    * caps and pair counts are exact, not approximations. */
  def shingles(docs: DataFrame, k: Int = 3, numPartitions: Int = 0,
               wave: Int = 0, waves: Int = 1): DataFrame = {
    // One codegen'd pass builds, de-duplicates and hashes the grams
    // (VectorExpressions.ShingleHash64) — value-identical to the
    // interpreted shingleArray → explode → xxhash64 chain it replaces
    // (same gram bytes, same seed-42 xxhash64, same array_distinct
    // first-occurrence semantics), without materializing a gram
    // STRING per stream row through per-element lambda dispatch.
    val hashed0 = docs
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), explode(
        graft.functions.VectorExpressions.shingleHash64(
          col("t"), k, distinct = true)).as("s"))
    val hashed =
      if (waves > 1) hashed0.filter(pmod(col("s"), lit(waves.toLong)) === wave)
      else hashed0
    if (numPartitions > 0) hashed.repartition(numPartitions, col("s"))
    else hashed.repartition(col("s"))
  }

  /** Shuffle-partition count for the inverted-index pair passes:
    * ~150k docs (≈ 6M shingle groups) per partition, clamped to
    * [session default, 4096]. The session's static shuffle-partition
    * setting is the scale bug this fixes: at 30M docs the 32-partition
    * default put ~35M groups in each bucket-aggregation task, whose
    * UnsafeExternalSorter spill then wrote (and re-merged) the whole
    * stream several times over — measured filling a 67 GB disk before
    * failing, while the properly-sized run aggregates in-memory with
    * zero spill and completes. AQE can only coalesce small partitions,
    * not split an oversized aggregation, so this must be sized at plan
    * time from the corpus row count the caller already measured (the
    * same count that derives [[autoDocFreqCap]]). At the sf scales the
    * clamp keeps the session default, so driver plans are unchanged. */
  def pairShufflePartitions(spark: SparkSession, nDocs: Long): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      math.min(4096L, nDocs / 150000L + 1L).toInt)

  /** Exact dedup: canonical representative (min doc_id) per distinct
    * text. Hash-aggregate on the text — one shuffle keyed by text; at
    * scale, pre-hashing to a 128-bit digest and grouping on that keeps
    * shuffle rows narrow (here text is the key directly so the oracle
    * can reproduce it). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text")
      .orderBy("doc_id")

  /** URL canonicalization — the FIRST dedup stage of every crawl
    * pipeline (C4, RefinedWeb and friends dedup by canonical URL
    * before any content hash is computed, because it prunes refetches
    * for free). Pure codegen'd projection (regexp + array functions,
    * no UDF), applying the standard equivalences:
    *
    *  - fragment stripped (`#...` never reaches the server);
    *  - scheme and host lowercased (case-insensitive per RFC 3986),
    *    path left case-SENSITIVE;
    *  - `http` upgraded to `https`, leading `www.` dropped;
    *  - tracking parameters removed (`utm_*`, `gclid`, `fbclid`,
    *    `ref`) — they vary per crawl visit, not per resource;
    *  - remaining query parameters SORTED (`?b=2&a=1` ≡ `?a=1&b=2`);
    *  - trailing path slash dropped.
    *
    * Every regex stays in the Java ∩ RE2 ∩ DuckDB common subset, and
    * the array step is split → filter → sort → join in both engines,
    * so the whole canonicalizer replays value-for-value in the
    * oracle. */
  def urlCanonical(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val host = lower(regexp_extract(noFrag, "^[a-zA-Z]+://([^/?#]*).*", 1))
    val bareHost = regexp_replace(host, "^www\\.", "")
    val rest = regexp_extract(noFrag, "^[a-zA-Z]+://[^/?#]*(.*)", 1)
    val path = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/$", "")
    val query = regexp_extract(rest, "\\?(.*)", 1)
    val keptParams = array_join(
      array_sort(filter(split(query, "&"),
        p => !p.rlike("^(utm_[^=]*|gclid|fbclid|ref)="))), "&")
    concat(lit("https://"), bareHost, path,
      when(length(keptParams) > 0, concat(lit("?"), keptParams)).otherwise(lit("")))
  }

  /** The deterministic URL fixture behind [[dedupUrl]]: every doc gets
    * a crawl-shaped URL whose PATH groups ~`nPaths` docs onto one
    * resource and whose surface form cycles the seven standard
    * variants (tracking params, http+www+trailing-slash, fragment,
    * both query orders, uppercase host) — so the canonicalizer's
    * entire equivalence set sits on the oracle-verified path. */
  private[graft] def urlExpr(nPaths: Int = 500): Column = {
    val base = concat(lit("example.com/"), col("lang"), lit("/r"),
      (col("doc_id") % nPaths).cast("string"))
    val v = col("doc_id") % 7
    when(v === 0, concat(lit("https://"), base))
      .when(v === 1, concat(lit("https://"), base, lit("?utm_source=x&utm_campaign=y")))
      .when(v === 2, concat(lit("http://www."), base, lit("/")))
      .when(v === 3, concat(lit("https://"), base, lit("#section-2")))
      .when(v === 4, concat(lit("https://"), base, lit("?b=2&a=1")))
      .when(v === 5, concat(lit("https://"), base, lit("?a=1&b=2&gclid=tok")))
      .otherwise(concat(lit("https://EXAMPLE.com/"), col("lang"), lit("/r"),
        (col("doc_id") % nPaths).cast("string")))
  }

  /** Registered query (HARD oracle): URL-level dedup — canonicalize,
    * group, keep the min doc_id per resource. Variants 0/2/3/6 and the
    * de-tracked 1 collapse onto the bare canonical; 4 and 5 collapse
    * onto the sorted `?a=1&b=2` form. One hash aggregate keyed by the
    * canonical string — the same linear shape as [[dedupExact]], and
    * at 100 TB the key is a short URL instead of a document body. */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), urlCanonical(urlExpr()).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_variants"))
      .orderBy("canonical_url")

  /** Boilerplate profile: the corpus's top-k word-3-grams by DOCUMENT
    * frequency — the headers/footers/licence lines that recur across
    * documents. This is the measurement behind the `maxDocFreq`
    * hot-shingle cap in [[jaccardPairs]]: a shingle shared by a large
    * fraction of the corpus carries no similarity signal but drives
    * the inverted index's quadratic term, so a curation pipeline
    * profiles (this operator), then caps or strips. Shape: one
    * map-side-combining aggregate over exploded distinct-per-doc
    * shingles (count = df directly), then TakeOrderedAndProject —
    * the top-k never global-sorts. */
  def textBoilerplate(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    shingleArray(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(k)

  /** Near-dup pairs by word-k-gram Jaccard ≥ `threshold`, via
    * inverted-index join: explode distinct shingles, bucket doc lists
    * per shingle, count common shingles per pair, compute
    * |A∩B| / (|A|+|B|-|A∩B|).
    *
    * Scale shape: the join shuffles on the shingle value, so cost is
    * Σ_shingle (docs-with-shingle choose 2) — linear in corpus size for
    * natural text where shingles are rare, but quadratic in the bucket
    * for boilerplate shingles every document shares. `maxDocFreq` is
    * the skew guard: shingles appearing in more than that many
    * documents are dropped from the shingle universe entirely (both
    * the pair counts and the per-doc sizes — standard stop-shingle
    * semantics), bounding every bucket at (maxDocFreq choose 2) pairs.
    * The DF filter is a size test on the bucket frame the inverted
    * index aggregates anyway (no new shuffle).
    *
    * `None` — the default every registered row and pair-riding
    * consumer uses — resolves to [[autoDocFreqCap]] (4·√n_docs,
    * floor 10), so a 100-TB user gets bounded buckets without knowing
    * the knob, the same auto-sizing contract as `annIvf`'s 4·√n list
    * count. On every driver corpus the auto cap sits far above the
    * observed max df (88–284 vs 9–25 measured), so the output is
    * bit-identical to exact Jaccard and the uncapped DuckDB oracles
    * replay it unchanged; on a boilerplate-heavy corpus the cap is
    * the difference between Σ(bucket choose 2) and n². */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   maxDocFreq: Option[Int] = None,
                   waves: Option[Int] = None): DataFrame = {
    val nDocs = docs.count()
    val cap = maxDocFreq.getOrElse(autoDocFreqCap(nDocs))
    val counts = bucketCounts(docs, nDocs, cap, waves)
    val pairs = counts.filter(col("d2") >= 0)
      .select(col("d1"), col("d2"), col("cnt").as("common"))
    // Per-doc SURVIVOR set sizes = map-side totals MINUS per-doc
    // hot-shingle hits (never a recount of the kept stream: the hit
    // frame is sized by boilerplate volume — empty on a clean corpus,
    // where a full recount shuffle measured +14% at 1M docs for
    // nothing — and joins by measured-size broadcast).
    val base = docs
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), size(graft.functions.VectorExpressions
        .shingleHash64(col("t"), 3, distinct = true)).as("n"))
      .filter(col("n") > 0)
    val n = Ops.joinBroadcastIfFits(base, hotHitsOf(counts), "doc_id", joinType = "left")
      .select(col("doc_id"),
        (col("n") - coalesce(col("hits"), lit(0))).as("n"))
      .filter(col("n") > 0)
    // n is one 16-byte row per DOCUMENT — small vs the pair stream at
    // test scale, but it grows with the corpus, so the broadcast is a
    // MEASURED decision (Ops.broadcastIfFits), not a hard hint: at
    // 10⁹ docs an unconditional broadcast is tens of GB and kills the
    // job at the broadcast limit; past the budget this degrades to a
    // shuffle join on the pair stream. Measured once, joined twice.
    val nSized = Ops.broadcastIfFits(n)
    graft.Caches.persist(pairs
      .join(nSized.as("n1"), col("d1") === col("n1.doc_id"))
      .join(nSized.as("n2"), col("d2") === col("n2.doc_id"))
      .select(col("d1"), col("d2"),
        Ops.r4(col("common").cast("double") /
          (col("n1.n") + col("n2.n") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("d1", "d2"))
    // persisted (registry-scoped, deduplicated by semantic hash): the
    // qualifying-pair frame is tiny — real-dup volume, not candidate
    // volume — but four registered queries derive from it
    // (dedup_ngram_jaccard, dedup_keep_list, dedup_clusters,
    // dedup_cluster_keep), and without the cache each re-runs the full
    // shingle/inverted-index chain from the scan up.
  }

  /** ONE-PASS candidate counting for the inverted-index pair family —
    * the frame both [[jaccardPairs]] and [[containmentPairs]] consume.
    * Buckets (doc lists per shingle, one shuffle co-partitioned with
    * `shingles`' repartition, no self-join) expand in a single tagged
    * projection: a bucket within the df cap emits its ordered pairs
    * (d1 < d2), a HOT bucket emits one (doc_id, −1) marker per member
    * — so the pair counts (`common` per pair) and the per-doc
    * hot-shingle hit counts (the size correction) come out of ONE
    * downstream aggregation, and the bucket frame itself is consumed
    * exactly once and never persisted. (Round 11: persisting the
    * 380M-row bucket frame for a second hot-hits read spilled to disk
    * and nearly doubled the 10M-doc pass — 500 s vs 260 s; what gets
    * persisted now is only this candidate-count frame, which is
    * real-dup volume, not bucket volume.) Hot rows use d2 = −1, safe
    * because doc ids are non-negative.
    *
    * STAGED WAVE SWEEP (round 12): past ~25M docs on one box the
    * single-pass shuffle is the limit — at 100M docs the hashed-shingle
    * stream is ~3.8B rows (~35–45 GB lz4 shuffle) that must be held
    * ON DISK all at once, measured dying on `No space left on device`
    * after 26 min (BIGBENCH.md round-11). The fix is sequential waves
    * over the shingle-HASH space: wave w processes only shingles with
    * `pmod(s, waves) = w` (filter BEFORE the repartition — see
    * [[shingles]]), so peak shuffle footprint is ~1/waves. Each wave's
    * candidate counts are `localCheckpoint`ed (real-dup volume, tiny
    * next to the bucket stream), its shuffle files become unreachable
    * and a GC nudge lets ContextCleaner reclaim the disk before the
    * next wave starts. Per-pair counts and per-doc hot-hits are plain
    * SUMS over waves because every shingle lives wholly in one wave —
    * the summed frame is bit-identical to the single pass (pinned by
    * DedupSpec's staged-vs-single property and the tri-scale oracles;
    * waves auto-resolves to 1 at every driver scale, so registered
    * plans are unchanged). On a real cluster the shuffle spreads over
    * N executors' disks and staging is rarely needed — this closes the
    * SINGLE-BOX envelope; `checkpoint` to durable storage is the
    * drop-in for dynamic executors (same note as
    * [[connectedComponents]]). */
  private def bucketCounts(docs: DataFrame, nDocs: Long, cap: Int,
                           wavesOverride: Option[Int] = None): DataFrame = {
    val spark = docs.sparkSession
    val waves = wavesOverride.getOrElse(autoPairWaves(nDocs))
    def countsOf(sh: DataFrame): DataFrame =
      sh.groupBy("s").agg(sort_array(collect_list("doc_id")).as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(explode(expr(
          s"""IF(size(ds) > $cap,
             |   transform(ds, x -> struct(x AS d1, CAST(-1 AS BIGINT) AS d2)),
             |   flatten(transform(ds,
             |     (x, i) -> transform(slice(ds, i + 2, size(ds)),
             |               y -> struct(x AS d1, y AS d2)))))""".stripMargin)).as("p"))
        .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
        .agg(count(lit(1)).as("cnt"))
    if (waves <= 1)
      graft.Caches.persist(countsOf(
        shingles(docs, numPartitions = pairShufflePartitions(spark, nDocs))))
    // memoized by INPUT key, not output plan: the staged branch
    // materializes during construction (localCheckpoint → fresh
    // LogicalRDDs), so persist()'s semantic-hash dedup can never hit —
    // without the memo each call in a long-lived session (bench
    // repeats, the pair-riding family past the wave trigger) would
    // re-run every wave and strand another persisted frame. The key
    // carries the full CANONICALIZED plan string, not just its 32-bit
    // semanticHash: a memo hit here returns another corpus's
    // candidate-count frame outright (wrong results, not a skipped
    // persist), so a hash collision must be impossible — equal
    // canonical strings ⇔ equal canonical plans.
    else graft.Caches.memoFrame(spark,
      ("bucketCounts",
        docs.queryExecution.analyzed.canonicalized.toString, cap, waves)) {
      // each wave carries ~1/waves of the groups, so its shuffle keeps
      // the same ~150k-docs-per-partition density at 1/waves the count
      val perWave = math.max(spark.sessionState.conf.numShufflePartitions,
        pairShufflePartitions(spark, nDocs) / waves)
      def chkRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
        df.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
          case _                                            => None
        }
      val waveFrames = (0 until waves).map { w =>
        val c = countsOf(
            shingles(docs, numPartitions = perWave, wave = w, waves = waves))
          .localCheckpoint() // eager: runs the wave NOW, truncates lineage
        // the wave's shuffle files are dead the moment its counts are
        // checkpointed; ContextCleaner reclaims them on GC — nudge it
        // so wave w+1 starts with the disk this sweep exists to free
        System.gc()
        c
      }
      val summed = graft.Caches.persist(
        waveFrames.reduce(_ union _)
          .groupBy("d1", "d2").agg(sum("cnt").as("cnt")))
      // materialize the summed frame before freeing the wave
      // checkpoints it is built from — a truncated lineage cannot be
      // recomputed, so the blocks must outlive this one action
      summed.count()
      // Unpersisting the wave checkpoints TRUNCATES summed's lineage:
      // its persisted blocks can never be recomputed if lost. That is
      // acceptable exactly where this sweep applies — the documented
      // SINGLE-BOX envelope (local mode: one JVM, block loss ⇔ JVM
      // death, and the non-evictable MEMORY_AND_DISK level never drops
      // blocks) — so the reclamation only runs there. A cluster
      // deployment keeps the wave blocks alive instead (its shuffle
      // spreads over N executor disks, so the reclamation this exists
      // for isn't needed) and should prefer waves=1 or a reliable
      // `checkpoint()`; see [[autoPairWaves]].
      if (spark.sparkContext.isLocal)
        waveFrames.foreach { f =>
          val rdd = chkRdd(f)
          // LOUD when the shape drifts: silently skipping the unpersist
          // would quietly disable the between-wave disk reclamation this
          // sweep exists for, and the failure mode (out of disk at 100M)
          // is far from the cause
          if (rdd.isEmpty)
            System.err.println("[graft] WARN bucketCounts: wave checkpoint is not " +
              "a LogicalRDD — wave shuffle/checkpoint blocks will not be freed " +
              "between waves; peak disk regresses to the single-pass footprint")
          rdd.foreach(_.unpersist(blocking = false))
        }
      else
        System.err.println("[graft] WARN bucketCounts: staged wave sweep on a " +
          "cluster master — wave checkpoints stay persisted (no between-wave " +
          "disk reclamation, which a multi-executor shuffle doesn't need); " +
          "prefer waves=1 or a reliable checkpoint dir for dynamic executors")
      summed
    }
  }

  /** AUTO wave count for the staged pair sweep: one wave per ~32M
    * docs, capped at 16. Calibrated from this box's measurements —
    * 30M docs (30.15M rows with the planted dups) completed
    * single-pass within the disk budget (1176 s, BIGBENCH.md), so the
    * trigger sits just above that PROVEN point rather than below it
    * (waves cost a full map-side replay each; forcing 2 at a scale
    * one pass handles is pure overhead), while 100M's ~40 GB single
    * shuffle — the measured failure — becomes 4 waves of ~10 GB.
    * Below the trigger (every registered corpus) this is 1 and the
    * pass is plan-identical to round 11.
    *
    * CLUSTER NOTE: the wave sweep (and its between-wave disk
    * reclamation) is calibrated for the single-box envelope. On a real
    * cluster the shuffle already spreads over N executors' disks —
    * keep waves at 1 until a single executor's share exceeds the
    * per-box envelope, and pair waves>1 with a reliable checkpoint
    * dir if executors are dynamic (localCheckpoint blocks die with
    * their executor). */
  def autoPairWaves(nDocs: Long): Int =
    math.min(16L, (math.max(nDocs, 1L) - 1L) / 32000000L + 1L).toInt

  /** The hot-hit rows of a [[bucketCounts]] frame: how many
    * over-cap shingles each document carried (its size correction). */
  private def hotHitsOf(counts: DataFrame): DataFrame =
    counts.filter(col("d2") === -1)
      .select(col("d1").as("doc_id"), col("cnt").as("hits"))

  /** AUTO df cap: 4·⌈√n_docs⌉ with a floor of 10 — the annIvf 4·√n
    * precedent applied to stop-shingles. Rationale: a shingle in more
    * than ~√n documents contributes ≳ n candidate pairs from ONE
    * bucket (the quadratic term) while adding at most 1 to any
    * |A∩B| — boilerplate by construction, no similarity signal. The
    * cap bounds each bucket at (4√n choose 2) ≈ 8n pairs. Measured
    * headroom on the driver corpora: caps 88/88/284 vs observed max
    * df 9/7/25 at sf0.001/0.01/0.1 — the cap never binds there, so
    * capped ≡ exact and the uncapped oracles stay bit-green. */
  def autoDocFreqCap(nDocs: Long): Int =
    math.max(10L, 4L * math.round(math.sqrt(nDocs.toDouble))).toInt

  /** Registered query: 3-gram Jaccard ≥ 0.6 pairs under the AUTO df
    * cap ([[autoDocFreqCap]] — the family default). The cap sits far
    * above the corpus's observed max df, so the result equals exact
    * Jaccard bit-for-bit and the uncapped DuckDB oracle replays it;
    * a BINDING cap is exercised by `dedup_containment_capped`'s
    * oracle row and the skew spec. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(Tables.load(spark, dir, "documents"), threshold = 0.6)

  /** Registered query (HARD oracle — the SAME uncapped replay as
    * [[dedupNgramJaccard]]): the STAGED wave sweep forced on (3 waves
    * at every sf, where auto would pick 1), so the sequential path's
    * bit-identity to the single pass is driver-verified tri-scale
    * against DuckDB — the wave machinery itself sits under the hard
    * oracle, not only the DedupSpec property. */
  def dedupNgramJaccardStaged(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(Tables.load(spark, dir, "documents"), threshold = 0.6,
      waves = Some(3))

  /** Cross-source duplication matrix — the observability view over
    * the near-dup pairs: WHICH sources copy from each other, and how
    * much. Every mix decision ("drop source X, it's 40% scraped from
    * Y") starts from this table, but computing it ad hoc means
    * re-running the pair detection — here it rides the SAME
    * inverted-index pair pass as [[jaccardPairs]] and just joins the
    * ≤|pairs| rows back to the (doc_id → source) map twice (broadcast
    * at any realistic source cardinality — the MAP is docs-sized, so
    * it joins by doc_id on the pair side, never broadcast itself) and
    * groups. Sources are ordered within a pair (src_a ≤ src_b) so
    * A→B and B→A leakage land in one cell; n_pairs counts pairs, and
    * mean_jaccard (engine-exact floor rounding over the already-
    * rounded pair scores, summed in deterministic order via the
    * sorted pair list) says whether the overlap is near-identical
    * copies or loose templates. */
  def dedupSourceMatrix(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    val pairs = jaccardPairs(docs, threshold)
    val src = docs.select(col("doc_id"), col("source"))
    val withSrc = pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(
        least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"),
        col("jaccard"))
    withSrc.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        expr("floor(aggregate(array_sort(collect_list(jaccard)), 0D, (a, x) -> a + x)" +
          " / count(1) * 10000 + 0.5) / 10000").as("mean_jaccard"))
      .orderBy("src_a", "src_b")
  }

  def dedupSourceMatrixQ(spark: SparkSession, dir: String): DataFrame =
    dedupSourceMatrix(Tables.load(spark, dir, "documents"))

  /** ASYMMETRIC containment pairs: C(a,b) = |A∩B| / min(|A|,|B|) —
    * the "one document contains the other" detector Jaccard misses
    * (a paragraph quoted whole inside a long page has low Jaccard but
    * containment ≈ 1; Broder's original resemblance/containment
    * split). Same inverted-index single-shuffle shape as
    * [[jaccardPairs]]; only the normalization differs, so the
    * candidate volume — the scale-determining term — is identical. */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       maxDocFreq: Option[Int] = None,
                       waves: Option[Int] = None): DataFrame = {
    // The stop-shingle cap (same semantics and AUTO default as
    // [[jaccardPairs]] — `None` resolves via [[autoDocFreqCap]]): a
    // shingle in more than `cap` documents carries no containment
    // signal but contributes (bucket choose 2) candidate pairs — the
    // quadratic term at scale. Pair counts and the hot-hit size
    // correction both come out of [[bucketCounts]]' single tagged
    // pass (see its Scaladoc for the measured history).
    val nDocs = docs.count()
    val cap = maxDocFreq.getOrElse(autoDocFreqCap(nDocs))
    val counts = bucketCounts(docs, nDocs, cap, waves)
    val base = docs
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), size(graft.functions.VectorExpressions
        .shingleHash64(col("t"), 3, distinct = true)).as("n"))
      .filter(col("n") > 0)
    // survivor sizes = map-side totals MINUS per-doc hot-shingle
    // hits, not a recount of the kept stream: the hit frame is
    // sized by boilerplate volume (empty on a clean corpus, where
    // a full-corpus recount shuffle measured +14% at 1M docs for
    // nothing) and joins by measured-size broadcast, degrading to
    // a shuffle join only when boilerplate genuinely touches a
    // broadcast-unsafe share of the corpus.
    val n = Ops.joinBroadcastIfFits(base, hotHitsOf(counts), "doc_id", joinType = "left")
      .select(col("doc_id"),
        (col("n") - coalesce(col("hits"), lit(0))).as("n"))
      .filter(col("n") > 0)
    val pairs = counts.filter(col("d2") >= 0)
      .select(col("d1"), col("d2"), col("cnt").as("common"))
    // measured broadcast, same rationale as [[jaccardPairs]]: per-doc
    // sizes scale with the corpus, so the hint must be earned by size
    val nSized = Ops.broadcastIfFits(n)
    pairs
      .join(nSized.as("n1"), col("d1") === col("n1.doc_id"))
      .join(nSized.as("n2"), col("d2") === col("n2.doc_id"))
      .select(col("d1"), col("d2"),
        Ops.r4(col("common").cast("double") /
          least(col("n1.n"), col("n2.n"))).as("containment"))
      .filter(col("containment") >= threshold)
      .orderBy("d1", "d2")
  }

  /** Registered query: containment ≥ 0.8 pairs under the AUTO df cap
    * (non-binding on the driver corpora — see [[autoDocFreqCap]] —
    * so the uncapped oracle replays it exactly). */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.load(spark, dir, "documents"), threshold = 0.8)

  /** The capped variant as its own oracle row: df ≤ 10 stop-shingle
    * semantics replayed shingle-for-shingle by DuckDB. */
  def dedupContainmentCapped(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.load(spark, dir, "documents"), threshold = 0.8,
      maxDocFreq = Some(10))

  /** INCREMENTAL near-dup: new-batch documents that near-duplicate any
    * EXISTING corpus document — the shape production pipelines actually
    * run (each ingest batch probes the standing corpus index; the
    * corpus is never re-self-joined). Cost per batch is
    * |batch shingles| + the collision volume against the index — the
    * full-corpus pass is paid once, not per ingest.
    *
    * Same inverted-index mechanics as [[jaccardPairs]], but the bucket
    * join is new×corpus only: new-batch shingles join the
    * shingle-partitioned corpus index, so no corpus-corpus (or
    * new-new) pair is ever generated. Per-doc set sizes join via the
    * measured-size broadcast decision (the corpus side is one row per
    * document — unbounded at scale). */
  def dedupIncremental(corpus: DataFrame, newDocs: DataFrame,
                       threshold: Double): DataFrame = {
    def sizes(d: DataFrame, side: String, n: String): DataFrame =
      d.withColumn("t", split(col("text"), " "))
        .select(col("doc_id").as(side), size(graft.functions.VectorExpressions
          .shingleHash64(col("t"), 3, distinct = true)).as(n))
        .filter(col(n) > 0)
    // both sides through the shared hashed-inverted-index helper (the
    // 8-byte-key rule lives in one place); its repartition makes the
    // corpus side the standing s-partitioned index and co-partitions
    // the batch side into the join
    val index = shingles(corpus).withColumnRenamed("doc_id", "corpus_id")
    val common = shingles(newDocs).withColumnRenamed("doc_id", "new_id")
      .join(index, "s")
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("common"))
    val scored = Ops.joinBroadcastIfFits(
      Ops.joinBroadcastIfFits(common, sizes(newDocs, "new_id", "nn"), "new_id"),
      sizes(corpus, "corpus_id", "nc"), "corpus_id")
    scored
      .select(col("new_id"), col("corpus_id"),
        Ops.r4(col("common").cast("double") /
          (col("nn") + col("nc") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("new_id", "corpus_id")
  }

  /** Registered query: docs with doc_id ≡ 7 (mod 10) play the incoming
    * batch, the rest the standing corpus. */
  def dedupIncrementalQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    dedupIncremental(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 7),
      docs.filter(pmod(col("doc_id"), lit(10)) === 7),
      threshold = 0.6)
  }

  /** The dedup DECISION: which documents survive. Greedy-by-id — a doc
    * is dropped iff it is a near-duplicate of some earlier (lower-id)
    * doc, i.e. iff it appears as `d2` in the ordered pair list. This
    * is the step that turns pair detection into a cleaned corpus; an
    * anti join against the (small) drop list, so the corpus-sized side
    * streams through untouched. Conservative on chains (a~b, b~c drops
    * both b and c even when a≁c) — the standard training-data
    * trade-off: over-dropping duplicates is cheap, under-dropping
    * poisons the epoch. */
  def dedupKeepList(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val drop = jaccardPairs(docs, threshold = 0.6).select(col("d2").as("doc_id"))
    docs.select("doc_id")
      .join(drop, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** 64-bit SimHash over a token-array column `t`: each token's
    * xxhash64 votes +1/−1 per bit, the counter signs become the output
    * bits. A codegen'd [[graft.functions.VectorExpressions.SimHash64]]
    * loop — the interpreted aggregate-fold formulation cost
    * ~64·|tokens| lambda dispatches per row. Near-dup docs differ in a
    * handful of bits. */
  def simhashCol: Column = graft.functions.VectorExpressions.simhash64(col("t"))

  /** Engine-portable 60-bit SimHash signature: each token hashes to the
    * first 15 hex chars of its md5 (60 bits — fits a signed long in
    * BOTH engines with no sign games), tokens vote ±1 per bit, the
    * counter signs become the bits. Same construction as the codegen
    * [[simhashCol]] with one substitution — the hash family is md5,
    * which DuckDB evaluates identically — so an oracle can replay
    * signature, banding, candidates and Hamming verify value-for-value.
    * Computed by the codegen'd
    * [[graft.functions.VectorExpressions.SimHashMd5]] (one md5 + 60
    * bit-tests per token, inside whole-stage codegen — NOT the
    * interpreted HOF fold, whose 60·|tokens| lambda dispatches per row
    * would tank the 1M-doc bench); the xxhash64 path ([[simhashCol]])
    * stays available where oracle portability isn't needed and the
    * md5 cost matters.
    *
    * Persisted (through the releasable [[graft.Caches]] registry), not
    * repartitioned: an Exchange is only reused when the planner emits
    * ReusedExchange, and under AQE + cached inputs the two sides of the
    * band self-join each recompiled the signature (measured with the
    * interpreted aggregate: 262 s warm vs 6.4 s cold at 5k docs). The
    * 16-byte cached rows are trivially small at any scale. */
  def simhashPortableSigs(docs: DataFrame): DataFrame =
    graft.Caches.persist(docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        graft.functions.VectorExpressions.simhashMd5(col("t")).as("simhash")))

  /** SimHash near-dup pairs with Hamming distance ≤ 3, via 4×16-bit
    * band join. Pigeonhole: ≤3 differing bits over 4 bands ⇒ at least
    * one band identical, so the band join finds every qualifying pair
    * while only ever shuffling on (band_id, band_value) — never
    * all-pairs. A hard oracle row since round 7: the registered query
    * uses the md5-based [[simhashPortableSigs]] signature, so DuckDB
    * replays the whole pipeline (the 60-bit signature leaves the top
    * band with 12 effective bits — the pigeonhole recall guarantee is
    * unchanged, random collisions per band rise 16×, which the Hamming
    * gate absorbs). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(simhashPortableSigs(Tables.load(spark, dir, "documents")), maxHamming = 3)

  /** Band width for a 64-bit SimHash at `maxHamming`: the pigeonhole
    * rule of [[Lsh.pigeonholeBits]] (whose scaladoc carries the
    * rationale) — maxHamming ≤ 1 → 32, ≤ 3 → 16, else 8. */
  def autoSimhashBandBits(maxHamming: Int): Int = Lsh.pigeonholeBits(64, maxHamming)

  /** Near-dup pairs (d1 < d2, hamming ≤ `maxHamming`) over any
    * (doc_id, simhash) frame: the [[Lsh]] bit-band self-join plus the
    * exact Hamming gate. `bandBits` (8..32) trades the 2^-bandBits
    * random-collision term against the pigeonhole recall bar; 0 (auto)
    * takes [[autoSimhashBandBits]]. */
  def simhashPairs(sims: DataFrame, maxHamming: Int, bandBits: Int = 0): DataFrame =
    hammingPairs(sims, 1, maxHamming, bandBits)

  /** Near-dup pairs over a WIDE (words×64-bit) SimHash signature —
    * [[simhashPairs]] for `simhash: array<bigint>` columns built by
    * [[graft.functions.VectorExpressions.SimHashWide]]. What width buys
    * is stated on [[Lsh]]: chiefly the 32-bit-band regime
    * (`bandBits = 32`), collision-free at scale with recall guaranteed
    * to ham ≤ 3. Auto (0) picks the widest 8/16/32 whose band count
    * still pigeonhole-guarantees `maxHamming` over words×64 bits. */
  def simhashPairsWide(sims: DataFrame, maxHamming: Int, words: Int = 2,
                       bandBits: Int = 0): DataFrame =
    hammingPairs(sims, words, maxHamming, bandBits)

  private def hammingPairs(sims: DataFrame, words: Int, maxHamming: Int,
                           bandBits: Int): DataFrame = {
    val bits = if (bandBits == 0) Lsh.pigeonholeBits(words * 64, maxHamming) else bandBits
    Lsh.candidates(sims, sims, Lsh.BitBands.over(words, bits), self = true, ("d1", "d2"),
      sig = "simhash", maxHamming = Some(maxHamming))
      .orderBy("d1", "d2")
  }

  /** Registered query — a hard oracle row since round 7, like
    * dedup_simhash: 2×60-bit md5-portable wide SimHash
    * ([[graft.functions.VectorExpressions.SimHashMd5Wide]] — the two
    * digest halves vote as independent hash functions, one md5 per
    * token) at the bar equivalent to the 64-bit query's ham ≤ 3
    * (per-bit bars scale with width), on 32-bit bands — the
    * configuration whose random-collision term (n²·4·2⁻³²; ~2⁻²⁸ on
    * the 28-effective-bit high bands) stays sub-linear past 10⁹ docs.
    * DuckDB replays signature, banding and the Hamming gate exactly.
    * The xxhash64 [[graft.functions.VectorExpressions.SimHashWide]]
    * stays available via [[simhashPairsWide]] for non-oracle use. */
  def dedupSimhashWide(spark: SparkSession, dir: String): DataFrame = {
    val sims = graft.Caches.persist(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        graft.functions.VectorExpressions.simhashMd5Wide(col("t")).as("simhash")))
    simhashPairsWide(sims, maxHamming = 6, words = 2, bandBits = 32)
  }

  /** MinHash-LSH near-dup pairs over shingle sets, reusable over any
    * (doc_id, text) frame — native banded implementation:
    *
    * 1. signature: nPerms=16 MinHash values per doc via the codegen'd
    *    [[graft.functions.VectorExpressions.MinHashSig]] (one loop,
    *    no Spark ML fit, no feature vectors).
    * 2. candidates: the [[Lsh]] self-join on 8 bands × 2 rows. The band
    *    join shuffles 24-byte (band, h1, h2, doc_id) rows — this
    *    replaced `MinHashLSH.approxSimilarityJoin`, whose r=1
    *    OR-amplified buckets admit far pairs at P = J per table AND
    *    shuffle the full hashed-shingle vector 8× per doc (measured:
    *    25 GB spill and >30 min at 1M docs; this version: seconds).
    * 3. verify: [[Lsh.jaccardVerified]], exact Jaccard on the
    *    candidates' shingle arrays.
    *
    * Not DuckDB-expressible (Spark-side hashing) → recall is asserted
    * against planted near-dups in the spec instead of an oracle row. */
  def minhashPairs(docs: DataFrame, simThreshold: Double): DataFrame =
    minhashBanded(docs, graft.functions.VectorExpressions.minhashSig, simThreshold)

  /** (doc_id, sig): 16 MinHash values per doc with a non-empty shingle
    * set, in ONE streaming pass — the fat shingle arrays are never
    * persisted or shuffled. */
  private def minhashSigs(docs: DataFrame, hash: (Column, Int) => Column): DataFrame =
    shingleArray(docs).select("doc_id", "sh")
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), hash(col("sh"), 16).as("sig"))

  private val MinhashBands = Lsh.RowBands(8)

  private def minhashBanded(docs: DataFrame, hash: (Column, Int) => Column,
                            simThreshold: Double): DataFrame = {
    val sigs = minhashSigs(docs, hash)
    Lsh.jaccardVerified(
      Lsh.candidates(sigs, sigs, MinhashBands, self = true, ("d1", "d2")),
      docs, docs, simThreshold)
  }

  /** Engine-portable MinHash-LSH — the same banded pipeline as
    * [[minhashPairs]] (16-value signature, 8 bands × 2 rows, candidate
    * self-join, exact-Jaccard verify) with one substitution: the hash
    * family is md5-derived instead of the codegen'd xxhash64
    * permutations. md5 exists with identical semantics in every SQL
    * engine, so a DuckDB oracle can replay the ENTIRE pipeline —
    * signatures, banding, candidate set, verify — value-for-value:
    * the query is a hard rows+schema+hash oracle row even though LSH
    * is probabilistic, because both engines take the same "random"
    * choices.
    *
    * ONE md5 per shingle, not one per (perm, shingle): the digest's
    * two 60-bit halves `a`, `b` seed Kirsch–Mitzenmacher permutations
    * `perm_i = (a + i·b) mod P` (P = 2³¹−1, so every intermediate
    * stays ≤ 2³⁵ — portable to engines with CHECKED 64-bit arithmetic
    * like DuckDB, where a wrapping-multiply formulation would error).
    * Two independent hashes through KM is the standard replacement
    * for k true permutations (Kirsch & Mitzenmacher 2006, same
    * construction Bloom-filter libraries use); estimator quality at
    * 16 perms is unchanged. [[minhashPairs]] (xxhash64 codegen loop)
    * remains the non-oracle scale alternative; measured at 1M docs
    * the two are within ~15% (BIGBENCH.md round 7). */
  def minhashPairsPortable(docs: DataFrame, simThreshold: Double): DataFrame =
    minhashBanded(docs, graft.functions.VectorExpressions.minhashSigMd5, simThreshold)

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairsPortable(Tables.load(spark, dir, "documents"), simThreshold = 0.6)

  /** Content fingerprints per document: full-text md5 plus a 1-perm
    * MinHash signature (min over shingle md5s) that survives small
    * edits — the rolling-hash-style sketch a dedup pipeline keys on.
    * Pure per-row compute; both halves reproducible in the oracle. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    shingleArray(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("fp_md5"),
        // min over per-shingle md5s = a 1-permutation MinHash; array_min
        // keeps it per-row (no explode, no shuffle; null for <k tokens)
        array_min(expr("transform(sh, s -> md5(s))")).as("fp_shingle"))
      .orderBy("doc_id")

  /** Per-document quality stats — the filters a corpus-cleaning pass
    * ranks on: token counts (whitespace and alnum-regex), mean token
    * length, stopword ratio. Single projection over the scan, no
    * shuffle. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"), col("text"))
      .select(
        col("doc_id"), col("lang"),
        size(col("t")).as("n_tokens_ws"),
        expr("size(filter(split(lower(text), '[^a-z0-9]+'), x -> x != ''))").as("n_tokens_re"),
        Ops.r4(length(regexp_replace(col("text"), " ", "")).cast("double") / size(col("t")))
          .as("avg_tok_len"),
        Ops.r4(expr("size(filter(t, x -> x IN ('the', 'a', 'of', 'and', 'in')))").cast("double")
          / size(col("t"))).as("stop_ratio"))
      .orderBy("doc_id")

  /** Top-5 tokens per language by frequency — the vocabulary profile
    * used for corpus QA. Explode → two-level aggregation (partial
    * map-side combine on (lang, tok)) → per-lang top-k via
    * row_number, which plans as a windowed top-k, not a global sort. */
  def textTokens(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.load(spark, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok").asc)
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("lang", "tok", "n", "rnk")
      .orderBy("lang", "rnk")
  }

  /** Per-doc token counts under BOTH tokenizers a data pipeline
    * actually budgets with: whitespace split (the corpus-stats
    * convention) and a GPT-2-style pre-tokenizer regex (runs of
    * letters / digits / other, each with an optional leading space —
    * the split BPE applies BEFORE merges, so its count upper-bounds
    * real BPE tokens). Pure projection, regex evaluated once per row;
    * `bpe_ratio` is the fertility proxy (≈1.0 on clean prose, >1 on
    * punctuation-soup that BPE fragments). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        regexp_count(col("text"),
          lit(" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+")).as("n_bpe_tokens"))
      .withColumn("bpe_ratio", // Ops.r4: k/n half-tie class, see gopherRules
        Ops.r4(col("n_bpe_tokens").cast("double") / col("n_ws_tokens")))
      .orderBy("doc_id")

  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    tokenCounts(Tables.load(spark, dir, "documents"))

  /** First-iteration BPE merge mining — the argmax step of BPE
    * tokenizer training, computed the way production trainers compute
    * it: over the WORD HISTOGRAM, never the raw token stream. Stage 1
    * is a plain word count (map-side partial agg; the only
    * corpus-sized pass, and its shuffle carries at most |vocab| rows
    * per partition). Stage 2 explodes each DISTINCT word into its
    * adjacent character pairs weighted by the word's corpus frequency,
    * so the pair stage costs O(|vocab| · avg word length) regardless
    * of corpus size — at 100 TB it is exactly as big as at 1 GB once
    * the histogram exists. Top-k by (count DESC, pair ASC), the
    * deterministic tie-break both engines share; counts are BIGINT on
    * both sides (the `::BIGINT` oracle rule). Words are lowercased
    * and split on non-letters, the usual BPE pre-tokenization
    * normalization; single-letter words carry no pair and are
    * dropped up front. */
  def bpeMerges(spark: SparkSession, dir: String, k: Int = 30): DataFrame = {
    val words = Tables.load(spark, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c"))
    words
      .select(col("w"), col("c"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"), col("c"))
      .groupBy("pair").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  def textBpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(spark, dir)

  /** ITERATIVE BPE training — k greedy merge steps, each the argmax
    * adjacent-token pair over the corpus re-counted AFTER the previous
    * merge is applied (what [[bpeMerges]]' single histogram pass cannot
    * see: merge 2's counts depend on merge 1's rewrite). All iterations
    * run on the WORD HISTOGRAM: the corpus is touched exactly once (the
    * word count); each of the k rounds is a vocab-sized aggregate plus
    * a vocab-sized narrow rewrite, so training cost is independent of
    * corpus row count — the property that makes BPE trainable at
    * 100 TB at all. The per-round argmax is a 1-row driver collect
    * (the same bounded materialization as k-means centroids), and the
    * winning pair is folded back in as a LITERAL, keeping every
    * distributed stage a pure column expression.
    *
    * Merge application uses a replace-safe segmentation encoding:
    * tokens joined with a DOUBLE space, single boundary space at each
    * end (`' t1  t2  ... tn '`). A literal `replace(seg, " a  b ",
    * " ab ")` then consumes no character the next adjacent match
    * needs, so one linear replace pass equals the greedy
    * left-to-right pairwise merge fold — including runs (`aaaa` with
    * merge (a,a) → `aa aa`), where a single-space encoding's shared
    * boundary would drop every other merge. The spec property-tests
    * this equivalence against a direct fold on random token lists;
    * the DuckDB oracle unrolls the same k rounds as CTEs over the
    * identical encoding (DuckDB's `replace` shares the
    * scan-original / continue-after-match semantics). Tie-break
    * (cnt DESC, lhs ASC, rhs ASC) is bytewise-identical on the
    * [a-z]+ token alphabet; counts are BIGINT both sides. */
  def bpeTrain(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    bpeMergeSteps(spark, dir, k).toDF("step", "lhs", "rhs", "merged", "cnt")
  }

  /** [[bpeTrain]]'s replace-safe segmentation encoding: tokens joined
    * with a DOUBLE space, one boundary space at each end. */
  private def bpeCanon(tokens: Column): Column =
    concat(lit(" "), array_join(tokens, "  "), lit(" "))

  /** The k greedy merge steps of [[bpeTrain]] as a driver-side list —
    * shared with [[bpeEncode]], which folds them back in as literals. */
  private def bpeMergeSteps(spark: SparkSession, dir: String,
                            k: Int): Seq[(Int, String, String, String, Long)] =
    bpeFit(spark, dir, k)._1

  /** [[bpeTrain]]'s full fit state: the merge steps AND the word
    * histogram's final segmentation (still weighted by corpus counts)
    * — the frame [[bpeVocab]] reads its token inventory from. */
  private def bpeFit(spark: SparkSession, dir: String, k: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    val words = Tables.load(spark, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c"))
    val toks = expr("filter(split(seg, ' +'), x -> x <> '')")
    var seg = graft.Caches.persist(
      words.select(bpeCanon(expr("filter(split(w, ''), x -> x <> '')")).as("seg"),
        col("c")))
    val steps = Seq.newBuilder[(Int, String, String, String, Long)]
    var exhausted = false
    for (i <- 1 to k if !exhausted) {
      val best = seg
        .select(toks.as("t"), col("c"))
        // fully-merged single-token words carry no pair — and MUST be
        // dropped before sequence(): Spark's sequence(1, 0) is a
        // DESCENDING [1, 0], not empty like DuckDB's range(1, 1)
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(t) - 1), " +
            "j -> struct(element_at(t, j) AS lhs, element_at(t, j + 1) AS rhs))"))
          .as("p"), col("c"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        steps += ((i, a, b, a + b, cnt))
        // replace on the double-space encoding == greedy merge fold
        // (see Scaladoc); re-canonicalize so the invariant holds for
        // the next round's match
        seg = graft.Caches.persist(
          seg.select(
            replace(col("seg"), lit(s" $a  $b "), lit(s" ${a + b} ")).as("seg"),
            col("c"))
            .select(bpeCanon(toks).as("seg"), col("c")))
      }
    }
    (steps.result(), seg)
  }

  def textBpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(spark, dir)

  /** The SHIPPED ARTIFACT of BPE training: the subword vocabulary
    * after the k merges, with corpus frequencies — what a tokenizer
    * release actually packages next to the merge list. Read straight
    * off the fit's final word-histogram segmentation: each distinct
    * word's tokens weighted by the word's corpus count, so the token
    * explode and the frequency aggregate are both VOCAB-sized (the
    * corpus was touched once, by the histogram). Like the trainer
    * itself it counts over the pair-bearing histogram (words of ≥2
    * letters — the table production BPE trainers operate on). Top-k
    * by (count DESC, token ASC), BIGINT counts both engines. */
  def bpeVocab(spark: SparkSession, dir: String, k: Int = 3,
               top: Int = 50): DataFrame = {
    val (_, seg) = bpeFit(spark, dir, k)
    seg.select(explode(expr("filter(split(seg, ' +'), x -> x <> '')")).as("tok"),
        col("c"))
      .groupBy("tok").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(top)
  }

  def textBpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocab(spark, dir)

  /** BPE ENCODING — the inference half of [[bpeTrain]]: apply the k
    * trained merges, in training order, to every word of the corpus
    * and report per-document post-merge token counts (the number a
    * training-data budget actually bills). The expensive step — the k
    * greedy merge rewrites — runs once per DISTINCT word, not per
    * occurrence: the vocabulary frame is encoded with the same
    * double-space literal-replace fold the trainer uses (each merge a
    * pure column expression, and the k chained projections collapse
    * into one under Catalyst's CollapseProject), then joined back to
    * the exploded (doc_id, word) stream via a measured broadcast
    * ([[Ops.broadcastIfFits]]) — the vocabulary-join shape the other
    * text operators here share. At 100 TB: one corpus-sized word
    * explode, O(|vocab| · k) actual BPE work, a broadcast hash join,
    * and the final per-doc aggregate — nothing else shuffles the
    * corpus. Single-letter words (excluded from TRAINING's histogram,
    * which needs pairs) are still encoded — trivially to one token.
    * If fewer than k merges exist the fold applies what was learned.
    * Counts are BIGINT on both engines. */
  def bpeEncode(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val merges = bpeMergeSteps(spark, dir, k)
    val docWords = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(col("w") =!= "")
    val toks = expr("filter(split(seg, ' +'), x -> x <> '')")
    val vocab = docWords.select("w").distinct()
      .select(col("w"),
        bpeCanon(expr("filter(split(w, ''), x -> x <> '')")).as("seg"))
    val encoded = merges.foldLeft(vocab) { case (v, (_, a, b, m, _)) =>
      v.select(col("w"),
        replace(col("seg"), lit(s" $a  $b "), lit(s" $m ")).as("seg"))
        .select(col("w"), bpeCanon(toks).as("seg"))
    }
    val wordTokens = encoded.select(col("w"), size(toks).as("w_toks"))
    docWords
      .join(Ops.broadcastIfFits(wordTokens), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("w_toks").cast("long")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  def textBpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(spark, dir)

  /** WORDPIECE training (Schuster & Nakajima 2012; the BERT tokenizer)
    * — the third production trainer beside [[bpeTrain]] and
    * [[unigramTrain]], completing the family a tokenizer-release
    * pipeline actually chooses between. Same machinery as BPE — k
    * greedy merges over the double-space word-histogram segmentation —
    * with the two WordPiece differences:
    *
    *  - CONTINUATION MARKING: the initial segmentation is
    *    [c₁, ##c₂, …, ##cₙ]; a merge keeps the left token's marking
    *    and strips the right's `##`, so word-initial and word-internal
    *    units count separately (the distinction BERT vocabularies
    *    ship).
    *  - LIKELIHOOD SCORE: the merged pair maximizes
    *    cnt(ab) / (cnt(a)·cnt(b)) — the unigram-LM likelihood gain —
    *    not raw pair count, so the per-round argmax needs the CURRENT
    *    token counts too (a second vocab-sized aggregate). The score
    *    is one IEEE division of exact BIGINTs (cast to double, no
    *    libm), so Spark and DuckDB order candidates bit-identically;
    *    ties break (lhs ASC, rhs ASC) on the [a-z#] alphabet.
    *
    * Cost shape is [[bpeFit]]'s: the corpus is touched once (the word
    * histogram); each round is two vocab-sized aggregates, a 1-row
    * argmax collect, and a literal-replace rewrite. */
  private def wordpieceFit(spark: SparkSession, dir: String, k: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    // Persisted (r16): seg round 1 materializes FROM this frame, and
    // [[wordpieceEncode]] re-derives its distinct-word universe from
    // the same plan — the semantic-hash dedup in Caches.persist makes
    // both read one cached vocab-sized histogram instead of each
    // paying another corpus explode pass.
    val words = graft.Caches.persist(unigramWords(spark, dir))
    val toks = expr("filter(split(seg, ' +'), x -> x <> '')")
    val marked = expr(
      "transform(sequence(1, length(w)), i -> CASE WHEN i = 1 " +
        "THEN substring(w, 1, 1) ELSE concat('##', substring(w, i, 1)) END)")
    var seg = graft.Caches.persist(
      words.select(bpeCanon(marked).as("seg"), col("c")))
    val steps = Seq.newBuilder[(Int, String, String, String, Long)]
    var exhausted = false
    for (i <- 1 to k if !exhausted) {
      // Both scoring inputs are VOCAB-sized — the token inventory is
      // characters-plus-merges (≤ alphabet + k rows at any corpus
      // scale) and the pair table is bounded by its square — so they
      // collect, and the likelihood argmax runs on the driver: two
      // jobs per round instead of the former four (token-count
      // aggregate built TWICE as two independent broadcasts, plus the
      // orderBy/limit job), and two fewer join subtrees for the
      // optimizer to replan each round. Ordering and arithmetic are
      // replicated exactly: the same one IEEE double division both
      // engines compute, ties by (lhs, rhs) ascending — binary string
      // order, which coincides with Java's here because the token
      // alphabet is ASCII ([a-z] words plus the '##' mark).
      // ONE vocab-sized collect per round instead of two (r16): single
      // tokens count under (tok, NULL) keys and adjacent pairs under
      // (lhs, rhs) in the SAME aggregate, so each round scans the
      // persisted segmentation once and pays one job's planning +
      // driver latency, not two. The driver splits the rows back into
      // the two maps; each key's cnt is the identical sum the two
      // separate aggregates produced.
      val scored = seg
        .select(toks.as("t"), col("c"))
        .select(explode(expr(
          """concat(
            |  transform(t, x -> struct(x AS lhs, CAST(NULL AS STRING) AS rhs)),
            |  transform(slice(t, 1, greatest(size(t) - 1, 0)),
            |            (x, j) -> struct(x AS lhs, element_at(t, j + 2) AS rhs)))"""
            .stripMargin)).as("p"), col("c"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("c").as("cnt"))
        .collect()
      val tokCnt = scored.iterator.filter(_.isNullAt(1))
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      val pairCnt = scored.filter(r => !r.isNullAt(1))
      val best = pairCnt
        .map { r =>
          val (lhs, rhs, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
          (cnt.toDouble / (tokCnt(lhs).toDouble * tokCnt(rhs).toDouble),
            lhs, rhs, cnt)
        }
        .sortBy { case (score, lhs, rhs, _) => (-score, lhs, rhs) }
        .take(1)
      if (best.isEmpty) exhausted = true
      else {
        val (_, a, b, cnt) = best(0)
        val m = a + b.stripPrefix("##") // left marking survives the merge
        steps += ((i, a, b, m, cnt))
        seg = graft.Caches.persist(
          seg.select(
            replace(col("seg"), lit(s" $a  $b "), lit(s" $m ")).as("seg"),
            col("c"))
            .select(bpeCanon(toks).as("seg"), col("c")))
      }
    }
    (steps.result(), seg)
  }

  /** Registered query (HARD oracle): the k WordPiece merge steps —
    * (step, lhs, rhs, merged, cnt); cnt is the pair's corpus count
    * (the score's exact numerator), the denominators being that
    * round's token counts, which the DuckDB oracle recomputes and
    * divides identically. */
  def wordpieceTrain(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    wordpieceFit(spark, dir, k)._1.toDF("step", "lhs", "rhs", "merged", "cnt")
  }

  def textWordpieceTrain(spark: SparkSession, dir: String): DataFrame =
    wordpieceTrain(spark, dir)

  /** The SHIPPED WordPiece vocabulary: the (marked) token inventory of
    * the final histogram segmentation with corpus frequencies — the
    * `vocab.txt` a BERT release packages. */
  def wordpieceVocab(spark: SparkSession, dir: String, k: Int = 3,
                     top: Int = 50): DataFrame = {
    val (_, seg) = wordpieceFit(spark, dir, k)
    seg.select(explode(expr("filter(split(seg, ' +'), x -> x <> '')")).as("tok"),
        col("c"))
      .groupBy("tok").agg(sum("c").as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(top)
  }

  def textWordpieceVocab(spark: SparkSession, dir: String): DataFrame =
    wordpieceVocab(spark, dir)

  /** Greedy longest-match WordPiece segmentation length for one word —
    * THE WordPiece inference algorithm (maximal munch with `##`
    * continuations). `vocab` holds marked pieces; singles for every
    * corpus character are in it by construction, so the walk always
    * advances. */
  private[graft] def wordpieceCount(w: String, vocab: Set[String],
                                    maxLen: Int): Long = {
    var pos = 0
    var n = 0L
    while (pos < w.length) {
      var l = math.min(maxLen, w.length - pos)
      var hit = 0
      while (hit == 0 && l >= 1) {
        val cand =
          if (pos == 0) w.substring(0, l) else "##" + w.substring(pos, pos + l)
        if (vocab.contains(cand)) hit = l else l -= 1
      }
      require(hit > 0, s"wordpieceCount: '$w' not coverable at $pos")
      pos += hit
      n += 1
    }
    n
  }

  /** Registered query (HARD oracle): WORDPIECE ENCODING — greedy
    * longest-match against the trained inventory (every corpus
    * character as a marked single — BERT vocabularies carry the whole
    * alphabet — plus the k merged pieces), billed as per-document
    * token counts. Same scale shape as [[bpeEncode]] /
    * [[unigramEncode]]: the greedy walk runs once per DISTINCT word,
    * joins back over a measured broadcast, and only the word explode
    * and the per-doc aggregate touch the corpus. The DuckDB oracle
    * precomputes the per-(word, position) maximal jump relationally
    * and walks it with a recursive CTE — the same greedy, so counts
    * are integer-exact. */
  def wordpieceEncode(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val merges = wordpieceFit(spark, dir, k)._1
    val docWords = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(col("w") =!= "")
    // The alphabet tier of the vocabulary is the CONSTANT 52-piece set
    // {a..z, ##a..##z} (r16): docWords splits on [^a-z]+, so every
    // marked single the old corpus-wide distinct+collect produced is
    // in it, and a single ABSENT from the corpus can never match
    // during the greedy walk over corpus words — the DP output is
    // bit-identical while the extra corpus pass, distinct exchange and
    // driver collect disappear. The distinct-word universe for the DP
    // is the fit's own persisted ≥2-letter histogram (one shared
    // corpus pass, Caches.persist plan-dedup) plus the 26 one-letter
    // rows, whose WordPiece length is 1 by construction (the unmarked
    // single is always in vocabulary); the inner join drops whichever
    // of the 26 the corpus never uses — exactly the rows the old
    // distinct would not have produced.
    val letters = ('a' to 'z').map(_.toString)
    val vocab = (letters ++ letters.map("##" + _)).toSet ++ merges.map(_._4)
    val maxLen = vocab.iterator.map(t => t.stripPrefix("##").length).max
    val vocabB = spark.sparkContext.broadcast(vocab)
    val wordTokens = graft.Caches.persist(unigramWords(spark, dir))
      .select("w")
      // GUARD (r16 advice): the 26 letter rows below assume the
      // histogram carries no 1-letter words (unigramWords filters
      // length ≥ 2). If that filter ever changed, a 1-letter histogram
      // row would duplicate its join key against the letter tier and
      // silently inflate n_words/n_wp_tokens — this filter makes the
      // coupling hold by construction instead of by convention (the
      // dropped word's WordPiece length is 1, exactly the letter row).
      .filter(length(col("w")) >= 2)
      .as[String]
      .map(w => (w, wordpieceCount(w, vocabB.value, maxLen)))
      .toDF("w", "w_toks")
      .unionByName(letters.map(l => (l, 1L)).toDF("w", "w_toks"))
    docWords
      .join(Ops.broadcastIfFits(wordTokens), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("w_toks")).as("n_wp_tokens"))
      .orderBy("doc_id")
  }

  def textWordpieceEncode(spark: SparkSession, dir: String): DataFrame =
    wordpieceEncode(spark, dir)

  /** UNIGRAM-LM tokenizer training (Kudo 2018, the SentencePiece
    * `unigram` model) — the other trainer a training-data pipeline
    * ships beside [[bpeTrain]], via Viterbi hard-EM over the WORD
    * HISTOGRAM (the same corpus-row-independence as BPE: one corpus
    * pass builds the histogram; every EM round is vocab-sized).
    *
    *  - Seed vocabulary: ALL substrings of histogram words up to
    *    `maxPieceLen` chars, scored by occurrence count weighted by
    *    word frequency (the standard suffix-array seeding, exact at
    *    this piece length). Single chars are therefore always in
    *    vocabulary, so every word stays segmentable.
    *  - E-step: per DISTINCT word, the Viterbi-best segmentation
    *    under the current token scores; M-step: token counts from the
    *    chosen segmentations, re-normalized. Hard (Viterbi) EM rather
    *    than forward-backward: same fixed points in the
    *    high-confidence regime, and the argmax is exactly replayable.
    *  - EXACT cross-engine scoring: token log-probs are quantized to
    *    integer micro-nats, lp(t) = floor(ln((cnt+1)/(total+|V|)) ·
    *    1e6 + 0.5) (add-one smoothing over the fixed seed vocabulary
    *    keeps every lp finite). Viterbi then maximizes an INTEGER sum
    *    with the deterministic tie-break (score DESC, pieces ASC,
    *    segmentation string ASC) — all-integer DP, so Spark and the
    *    DuckDB oracle (which enumerates every segmentation of every
    *    histogram word with a recursive CTE and takes the same argmax
    *    — affordable because the oracle corpus vocabulary is tiny)
    *    agree bit-for-bit. The only float is ln itself, shared ulp
    *    semantics verified by the tri-scale hash compare.
    *
    * 100-TB shape: the corpus is touched once (the word histogram
    * agg); seed counting, each E-step, and the M-step aggregate are
    * flatMap/agg over the DISTINCT-WORD frame; the lp model collected
    * per round is vocab-sized (the k-means-centroid materialization
    * class). The DP is per-word imperative logic with no Catalyst
    * equivalent — a typed flatMap over the histogram Dataset, the
    * same seam class as the media byte codecs. */
  def unigramTrain(spark: SparkSession, dir: String, maxPieceLen: Int = 3,
                   rounds: Int = 2, top: Int = 30): DataFrame = {
    val (_, _, cntDF) = unigramFit(spark, dir, maxPieceLen, rounds)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok").asc)
    cntDF.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= top)
      .select("tok", "cnt", "rnk")
      .orderBy("rnk")
  }

  /** Hard caps on the trainer's DRIVER-side materializations. The
    * seed vocabulary (and each round's used-count map) is collected
    * to the driver — provably ≤ 18,278 entries at the default
    * `maxPieceLen` = 3 (Σ_{l≤3} 26^l over the [a-z] alphabet), but at
    * a realistic SentencePiece 6–8 the bound becomes corpus-vocab ×
    * maxPieceLen with NO alphabet ceiling: an unguarded collect is a
    * silent driver OOM. Past the alphabet-bounded regime the seed is
    * COUNTED first (one vocab-sized aggregate) and a too-large vocab
    * fails with arithmetic and a remedy, not an OOM. ~2M entries ≈
    * low hundreds of MB of driver map — safe under the default heap;
    * the real fix at that scale is distributing the M-step. */
  private val unigramMaxSeedVocab = 2000000L

  /** The shared unigram-LM fit behind [[unigramTrain]],
    * [[unigramVocab]] and [[unigramEncode]]: returns (word histogram,
    * FINAL token scores — the integer micro-nat model the last E-step
    * segmented under, i.e. the deployable artifact — and the final
    * E-step's token counts). */
  private[graft] def unigramFit(spark: SparkSession, dir: String,
                                maxPieceLen: Int, rounds: Int,
                                maxSeedVocab: Long = unigramMaxSeedVocab)
      : (DataFrame, Map[String, Long], DataFrame) = {
    import spark.implicits._
    val words = graft.Caches.persist(unigramWords(spark, dir))
    val seedDF = words.as[(String, Long)]
      .flatMap { case (w, c) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(maxPieceLen, w.length - i)
        } yield (w.substring(i, i + l), c)
      }
      .groupBy(col("_1").as("tok")).agg(sum(col("_2")).as("cnt"))
      .select("tok", "cnt")
    if (maxPieceLen > 3) {
      // only here can the seed outgrow the 26+26²+26³ alphabet bound —
      // the count is one aggregate over the already-built seed frame,
      // and the default configuration never pays it
      val nSeed = seedDF.count()
      require(nSeed <= maxSeedVocab,
        s"unigram seed vocabulary has $nSeed pieces at maxPieceLen=$maxPieceLen " +
          s"(> $maxSeedVocab): collecting it would risk a driver OOM. " +
          "Lower maxPieceLen, pre-filter rare words from the corpus, or " +
          "distribute the M-step before raising the cap.")
    }
    val seed = seedDF.as[(String, Long)].collect().toMap
    var lp = unigramLp(seed, seed.keySet)
    var cntDF: DataFrame = null
    for (r <- 1 to rounds) {
      val lpB = spark.sparkContext.broadcast(lp)
      cntDF = words.as[(String, Long)]
        .flatMap { case (w, c) =>
          unigramViterbi(w, lpB.value, maxPieceLen).map(t => (t, c)) }
        .groupBy(col("_1").as("tok")).agg(sum(col("_2")).as("cnt"))
        .select("tok", "cnt")
      if (r < rounds) {
        val used = cntDF.as[(String, Long)].collect().toMap
        lp = unigramLp(seed.keySet.map(t => t -> used.getOrElse(t, 0L)).toMap,
          seed.keySet)
      }
    }
    (words, lp, cntDF)
  }

  /** The SHIPPED ARTIFACT of unigram training — the analogue of
    * [[bpeVocab]] for the unigram family: the pieces the final E-step
    * actually used, each with its corpus count AND the integer
    * micro-nat score ([[unigramLp]]) the deployable model assigns it —
    * the (piece, logprob) table a SentencePiece release packages.
    * Top-k by (count DESC, piece ASC); the lp column rides a broadcast
    * join from the (vocab-sized, driver-held) model map. */
  def unigramVocab(spark: SparkSession, dir: String, maxPieceLen: Int = 3,
                   rounds: Int = 2, top: Int = 50): DataFrame = {
    import spark.implicits._
    val (_, lp, cntDF) = unigramFit(spark, dir, maxPieceLen, rounds)
    val lpDF = lp.toSeq.toDF("tok", "lp")
    cntDF.join(broadcast(lpDF), Seq("tok"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(top)
      .select("tok", "cnt", "lp")
  }

  def textUnigramVocab(spark: SparkSession, dir: String): DataFrame =
    unigramVocab(spark, dir)

  /** UNIGRAM ENCODING — the inference half of [[unigramTrain]],
    * mirroring [[bpeEncode]]'s distinct-word + broadcast-join shape:
    * Viterbi-segment every DISTINCT ≥2-letter corpus word under the
    * trained scores (the same integer-exact DP as the final E-step,
    * so encode reproduces training's segmentations bit-for-bit) and
    * bill per-document piece counts. The DP runs once per distinct
    * word — vocab-sized work — and joins back to the exploded
    * (doc_id, word) stream via measured broadcast; nothing but the
    * word explode and the final per-doc aggregate touches the corpus.
    * The word universe is the trainer's own (≥2-letter words), so
    * every char is in the seed vocabulary and the DP cannot fail on
    * the corpus it was fit on. */
  def unigramEncode(spark: SparkSession, dir: String, maxPieceLen: Int = 3,
                    rounds: Int = 2): DataFrame = {
    import spark.implicits._
    val (words, lp, _) = unigramFit(spark, dir, maxPieceLen, rounds)
    val lpB = spark.sparkContext.broadcast(lp)
    val wordPieces = words.as[(String, Long)]
      .map { case (w, _) =>
        (w, unigramViterbi(w, lpB.value, maxPieceLen).length.toLong) }
      .toDF("w", "w_toks")
    val docWords = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
    docWords
      .join(Ops.broadcastIfFits(wordPieces), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("w_toks")).as("n_unigram_tokens"))
      .orderBy("doc_id")
  }

  def textUnigramEncode(spark: SparkSession, dir: String): DataFrame =
    unigramEncode(spark, dir)

  /** The ≥2-letter word histogram shared by the BPE and unigram
    * trainers — the single corpus-sized pass of tokenizer training. */
  private def unigramWords(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** Integer micro-nat scores: lp(t) = floor(ln((cnt+1)/(total+|V|))
    * · 1e6 + 0.5), smoothing over the FIXED seed vocabulary so unused
    * tokens keep a finite score. The identical expression runs in the
    * oracle SQL; every downstream comparison is integer-exact. */
  private[graft] def unigramLp(counts: Map[String, Long],
                               vocab: Set[String]): Map[String, Long] = {
    val total = (counts.valuesIterator.sum + vocab.size).toDouble
    vocab.iterator.map { t =>
      val cnt = counts.getOrElse(t, 0L)
      t -> math.floor(math.log((cnt + 1).toDouble / total) * 1e6 + 0.5).toLong
    }.toMap
  }

  /** Viterbi-best segmentation of one word under integer token scores:
    * maximize Σ lp, ties to fewer pieces, then to the lexicographically
    * smallest segmentation string — decomposable because tied
    * candidates cover the same chars with the same piece count, so
    * their strings have equal length and appending a common suffix
    * preserves their order. */
  private[graft] def unigramViterbi(w: String, lp: Map[String, Long],
                                    maxPieceLen: Int): Seq[String] = {
    // best(i): (score, pieces, seg string) for w's first i chars
    val best = new Array[(Long, Int, String)](w.length + 1)
    best(0) = (0L, 0, "")
    for (i <- 1 to w.length) {
      var b: (Long, Int, String) = null
      for (l <- 1 to math.min(maxPieceLen, i)) {
        val t = w.substring(i - l, i)
        val prev = best(i - l)
        if (prev != null) lp.get(t).foreach { p =>
          val cand = (prev._1 + p, prev._2 + 1,
            if (prev._3.isEmpty) t else prev._3 + " " + t)
          if (b == null || cand._1 > b._1 ||
              (cand._1 == b._1 && (cand._2 < b._2 ||
                (cand._2 == b._2 && cand._3 < b._3)))) b = cand
        }
      }
      best(i) = b
    }
    require(best(w.length) != null, s"unigramViterbi: '$w' unsegmentable")
    best(w.length)._3.split(' ').toSeq
  }

  def textUnigramTrain(spark: SparkSession, dir: String): DataFrame =
    unigramTrain(spark, dir)

  /** Language-ID by stopword-profile scoring: count hits against a
    * tiny per-language marker lexicon, predict the argmax (ties break
    * alphabetically, 'unk' when nothing matches). A real pipeline
    * swaps the lexicons for char-n-gram profiles; the operator shape —
    * per-row scoring, no shuffle — is identical. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "la", "les", "est", "et"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo"))

  def langIdCol(text: Column): Column = {
    val langs = langMarkers.keys.toSeq.sorted
    // token → per-language increment vector (a marker can belong to
    // several languages, e.g. "la" scores both es and fr).
    val incr: Map[String, Seq[Int]] =
      langMarkers.values.flatten.toSeq.distinct.sorted.map { t =>
        t -> langs.map(l => if (langMarkers(l).contains(t)) 1 else 0)
      }.toMap
    val zeroes = typedlit(Seq.fill(langs.size)(0))
    // ONE aggregate pass: the text is split exactly once and each
    // token does one map lookup into the 5-counter accumulator. The
    // previous form scored each language with its own filter() over a
    // shared `toks` alias — Catalyst inlined the split into all five,
    // re-tokenizing per language per row (14.5 s warm vs 0.55 s for
    // the same-shaped text_stats). The argmax lives in the finish
    // lambda so the whole column is a single expression evaluated
    // once; ties break to the alphabetically-last language (the
    // `>=` in the fold), 'unk' when nothing matches — semantics
    // identical to the old greatest(struct…) form.
    aggregate(
      split(lower(text), "[^a-z]+"),
      zeroes,
      (acc, t) => zip_with(acc, coalesce(element_at(typedlit(incr), t), zeroes), (a, b) => a + b),
      acc => {
        val scored = zip_with(acc, typedlit(langs), (s, l) =>
          struct(s.as("score"), l.as("lang")))
        val best = aggregate(scored,
          struct(lit(0).as("score"), lit("unk").as("lang")),
          (b, x) => when(x.getField("score") >= b.getField("score") &&
            x.getField("score") > 0, x).otherwise(b))
        best.getField("lang")
      })
  }

  /** Predicted vs labeled language per document. Registered as
    * `text_langid`, whose oracle replays the same keyword classifier in
    * DuckDB. The synthetic corpus is same-vocabulary across langs, so
    * the oracle checks the operator plumbing; accuracy is asserted on
    * constructed text in the spec. */
  def textLangId(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), langIdCol(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Language-ID confusion matrix — labeled vs predicted counts, the
    * quality report that says whether the classifier is safe to filter
    * on (per-label precision/recall fall straight out of the cells).
    * One classifier projection + one (label, pred) hash aggregate;
    * |langs|² output regardless of corpus size. */
  def textLangIdConfusion(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("lang"), langIdCol(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")

  /** Deterministic content-hash sampling — the reproducible downsample
    * every corpus pipeline needs: a doc survives iff the first two hex
    * chars of md5(text) fall below the threshold, so the SAME subset
    * comes back on every run, on any cluster, at any partitioning
    * (`rand()` samples are none of those). Content-keyed (not id-keyed)
    * so re-ingested duplicates sample identically. Pure map-side
    * filter; the string compare on the hex prefix is engine-portable
    * (both engines compare ASCII hex lexicographically). keepBelow
    * '1a' keeps 26/256 ≈ 10.2%. */
  def sampleHash(docs: DataFrame, keepBelow: String = "1a"): DataFrame =
    docs.filter(substring(md5(col("text").cast("binary")), 1, 2) < keepBelow)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  def docSampleHash(spark: SparkSession, dir: String): DataFrame =
    sampleHash(Tables.load(spark, dir, "documents"))

  /** Fixed-size deterministic per-stratum sample — the eval-set
    * carve-out ([[sampleHash]] keeps a RATE; this keeps an exact N per
    * stratum, which is what a held-out set needs). Order within a
    * stratum is the content hash, so membership is a pure function of
    * the corpus: partitioning-invariant, stable across reruns, and
    * docs can't buy their way in by id position. ONE shuffle on lang
    * for the per-stratum ranking; at lake scale the window's sort is
    * per-stratum, not global, and the survivor set (n × #strata) is
    * tiny by construction. */
  def reservoirPerStratum(docs: DataFrame, n: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy("lang", "rn")
  }

  def corpusReservoir(spark: SparkSession, dir: String): DataFrame =
    reservoirPerStratum(Tables.load(spark, dir, "documents"))

  /** Grouped top-k: the k largest documents per language — the
    * "best-N-per-dimension" report shape. Deliberately NOT a global
    * TakeOrderedAndProject (that's `sort_topn`): the ranking is
    * per-group, so it plans as one lang-shuffle + per-partition sort +
    * rank-filter — each task keeps k rows per group it owns, nothing
    * global ever materializes. Ties broken by doc_id so both engines
    * cut identically. */
  def topkPerLang(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    docs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "rnk")
  }

  def corpusTopkPerLang(spark: SparkSession, dir: String): DataFrame =
    topkPerLang(Tables.load(spark, dir, "documents"))

  /** Composite quality score — the rank a cleaning pass sorts on.
    * Components, each in [0,1]: alphabetic-character fraction (symbol
    * soup scores low), distinct-token ratio (boilerplate repetition
    * scores low), stopword presence (natural prose scores high),
    * length factor (min(tokens,64)/64 — fragments score low). Weighted
    * sum, one projection over the scan, no shuffle, no UDF. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), col("text"),
        split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("lang"),
        Ops.r4(length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
          / length(col("text"))).as("alpha_frac"),
        Ops.r4(size(array_distinct(col("t"))).cast("double") / size(col("t")))
          .as("distinct_frac"),
        Ops.r4(least(size(col("t")).cast("double") / 64.0, lit(1.0))).as("len_frac"),
        Ops.r4(expr("size(filter(t, x -> x IN ('the', 'a', 'of', 'and', 'in')))")
          .cast("double") / size(col("t"))).as("stop_ratio"))
      // floor(x·1e4 + 0.5)/1e4, NOT round(): the weighted sum of
      // 4-decimal components is a discrete rational that lands on
      // exact half-ties systematically, where Spark's decimal-exact
      // round and DuckDB's fp round disagree (found at sf0.1); the
      // floor formula is plain IEEE ops on the identical double both
      // engines compute, so it cannot diverge.
      .withColumn("quality", floor(
        (col("alpha_frac") * 0.3 + col("distinct_frac") * 0.3 +
          col("len_frac") * 0.2 + least(col("stop_ratio") * 5, lit(1.0)) * 0.2)
          * 1e4 + lit(0.5)) / 1e4)

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    qualityScore(Tables.load(spark, dir, "documents")).orderBy("doc_id")

  /** Feature-hashed LINEAR quality scorer — the fastText/CCNet serving
    * shape for a LEARNED document-quality classifier (hash each token
    * into D buckets, look the bucket's trained weight up, average over
    * the document), complementing [[qualityScore]]'s hand-set
    * heuristics: in production the weight table comes out of training,
    * and scoring a corpus is exactly this plan. The weights here are a
    * deterministic formula over the bucket id ((b·37+11) mod 101 − 50)
    * standing in for trained values — swapping the 1024-row frame for
    * a real weight table changes nothing in the plan — and they are
    * INTEGERS, so the per-doc aggregate is BIGINT-exact and the final
    * quality (= score_sum/n_tokens, one division of exact integers) is
    * the identical double in both engines.
    *
    * Scale shape: the token explode is a narrow Generate; the weight
    * table broadcasts (D rows, hinted); the per-doc aggregate's
    * map-side partials collapse each document's tokens BEFORE the
    * exchange (a doc's tokens never cross tasks — explode keeps them
    * in the scan task), so the shuffle carries doc-count rows, not
    * token-count. */
  def qualityModelScore(docs: DataFrame, nBuckets: Int = 1024): DataFrame = {
    val weights = broadcast(docs.sparkSession.range(0, nBuckets)
      .select(col("id").as("bucket"), ((col("id") * 37 + 11) % 101 - 50).as("wt")))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        // codegen'd 60-bit md5 prefix — value-identical to the
        // conv/substring/md5 string chain (see dsirWeights)
        (graft.functions.VectorExpressions.md5Prefix60(col("tok"))
          % nBuckets).as("bucket"))
      .join(weights, "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("wt").as("score_sum"))
      .select(col("doc_id"), col("n_tokens"), col("score_sum"),
        (col("score_sum").cast("double") / col("n_tokens")).as("quality"))
      .orderBy("doc_id")
  }

  def textQualityModel(spark: SparkSession, dir: String): DataFrame =
    qualityModelScore(Tables.load(spark, dir, "documents"))

  /** Streaming-composable form of [[qualityModelScore]]: the entire
    * score folds map-side inside one projection (HOF over the token
    * array with the weight FORMULA inlined), so it runs identically
    * over a bounded frame or a `readStream` micro-batch — no state
    * store, no shuffle, the same stateless-gate contract as
    * [[scrubDocs]]. Integer weights summed in element order are
    * order-free, so StreamingSpec pins row-for-row equality with the
    * batch operator's explode→join→aggregate plan. In production the
    * formula becomes a broadcast map lookup; the plan shape is
    * unchanged. */
  def scoreDocsStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      expr(
        """aggregate(transform(split(text, ' '),
          |  t -> ((CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)
          |         % 1024) * 37 + 11) % 101 - 50),
          |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
        .as("score_sum"))
      .withColumn("quality",
        col("score_sum").cast("double") / col("n_tokens"))

  /** Gopher-style HARD quality rules (Rae et al. 2021, App. A) — the
    * other half of quality filtering: [[qualityScore]] ranks, this
    * GATES. Each rule is a named boolean so a curation run can report
    * per-rule kill counts, not just a survivor total; thresholds are
    * scaled to this corpus's 10–99-word documents (word-count floor 30
    * vs Gopher's 50; same mean-word-length 3–10, ≥80% alphabetic
    * words, ≤10% symbol-only words, ≥2 stopword hits). One projection
    * over the scan — no shuffle, no UDF; the token-level rules are
    * codegen'd higher-order functions over the split array. */
  def gopherRules(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        size(col("t")).as("n_words"),
        // Ops.r4, not round(,4): these are discrete rationals k/n — the
        // exact half-tie class where Spark/DuckDB round() diverge.
        Ops.r4((length(col("text")) - (size(col("t")) - 1)).cast("double")
          / size(col("t"))).as("mean_word_len"),
        Ops.r4(expr("size(filter(t, x -> x rlike '[a-zA-Z]'))").cast("double")
          / size(col("t"))).as("alpha_word_frac"),
        Ops.r4(expr("size(filter(t, x -> NOT x rlike '[a-zA-Z0-9]'))").cast("double")
          / size(col("t"))).as("symbol_word_frac"),
        expr("size(filter(t, x -> x IN ('the','a','of','and','in')))")
          .as("n_stopwords"))
      .withColumn("ok_word_count", col("n_words").between(30, 100000))
      .withColumn("ok_mean_word_len", col("mean_word_len").between(3.0, 10.0))
      .withColumn("ok_alpha", col("alpha_word_frac") >= 0.8)
      .withColumn("ok_symbol", col("symbol_word_frac") <= 0.1)
      .withColumn("ok_stopwords", col("n_stopwords") >= 2)
      .withColumn("pass",
        col("ok_word_count") && col("ok_mean_word_len") && col("ok_alpha") &&
          col("ok_symbol") && col("ok_stopwords"))
      .orderBy("doc_id")

  def textGopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.load(spark, dir, "documents"))

  /** Sequence packing: assign documents to fixed token-budget bins —
    * the batch-assembly step before training (examples are concatenated
    * until the context window fills). Greedy in doc_id order within
    * each language stream: bin = floor(preceding-cumulative-tokens /
    * budget), via ONE window over (lang ORDER BY doc_id) — the same
    * single-shuffle shape as sessionization; no driver-side loop, no
    * repacking joins. A doc larger than the budget still lands in one
    * bin (real packers split it; the assignment operator is the part
    * that needs a scale shape). */
  def packSequences(docs: DataFrame, budget: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("bin",
        floor((sum("n_tokens").over(w) - col("n_tokens")) / budget))
      .orderBy("doc_id")
  }

  def docPackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.load(spark, dir, "documents"))

  /** Benchmark decontamination: flag corpus documents sharing any
    * word-3-gram with an eval-set document — the overlap check run
    * before any training corpus ships (a contaminated doc leaks the
    * benchmark into the weights). The eval set here is the deterministic
    * stand-in doc_id % 100 = 0; a real pipeline passes the benchmark
    * table. Shape: explode both sides to hashed shingles and LEFT SEMI
    * join corpus shingles against eval shingles — the eval side is
    * small for every real benchmark suite, so the semi join broadcasts
    * and the corpus is touched exactly once, map-side; but "small" is a
    * MEASURED decision ([[Ops.joinBroadcastIfFits]]), not an assumption
    * — a massive eval set (e.g. decontaminating against another whole
    * corpus) degrades to a shuffle semi join instead of OOMing the
    * driver. Persists the eval shingles via [[graft.Caches]] (release
    * obligation — see Ops). */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame,
                    budgetBytes: Long = Ops.DefaultBroadcastBudget): DataFrame = {
    // NOT the repartitioned `shingles` form: the corpus side feeds a
    // broadcast semi join, so a shuffle on the shingle would be pure
    // waste — the corpus stream stays map-side end to end. Gram
    // construction+hashing is the same ONE codegen'd pass as
    // [[shingles]] (r16) — value-identical to the interpreted
    // shingleArray → explode → xxhash64 chain it replaces.
    def sh(d: DataFrame): DataFrame = d
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), explode(
        graft.functions.VectorExpressions.shingleHash64(
          col("t"), 3, distinct = true)).as("s"))
    val evalSh = sh(evalDocs).select("s").distinct()
    Ops.joinBroadcastIfFits(sh(docs), evalSh, "s", budgetBytes, "left_semi")
      .select("doc_id").distinct()
      .orderBy("doc_id")
  }

  def docDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    decontaminate(
      docs.filter(pmod(col("doc_id"), lit(100)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(100)) === 0))
  }

  /** Distributed connected components over an undirected pair graph —
    * the step that turns near-dup PAIRS into duplicate CLUSTERS.
    * [[dedupKeepList]]'s greedy drop is deliberately conservative on
    * chains (a~b, b~c drops b AND c); cluster-then-keep-one is the
    * other standard policy (keep exactly one representative per
    * transitive closure), and it needs a real graph algorithm.
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round is two
    * aggregate+join passes over the edge list — no adjacency-list
    * materialization (`collect_list` would concentrate a whole
    * component's neighborhood into one row; a 100M-doc boilerplate
    * cluster would OOM a single task), no driver-side graph. Converges
    * in O(log² n) rounds regardless of component diameter — a
    * min-label-propagation loop would need O(diameter) rounds and a
    * pathological chain of near-dups makes diameter linear.
    *
    * Per round the edge frame is `localCheckpoint`ed: iterative
    * algorithms grow lineage linearly, and without truncation round k
    * replans (and under any recomputation re-executes) rounds 1..k-1.
    * On a real cluster with dynamic executors, `checkpoint` to durable
    * storage is the drop-in replacement.
    *
    * Input: columns `d1`, `d2` (one row per undirected edge, either
    * orientation). Output: `(doc_id, cluster)` for every node that
    * appears in some edge, where `cluster` is the component's minimum
    * id. Singletons never appear in the edge list, so the caller
    * re-attaches them (see [[dedupClusters]]). */
  // Process-unique ids for non-UnsafeRow LocalRelation payloads: each
  // distinct Seq OBJECT gets a fresh id, so the memo key can never alias
  // two different objects (identityHashCode alone is 32-bit and CAN
  // collide). Keys are held WEAKLY — an IdentityHashMap would pin every
  // row Seq that ever flowed through connectedComponents for the driver's
  // lifetime. A WeakReference subclass carries the identity hash and
  // compares referents by `eq`, so lookups keep identity semantics
  // (java.util.WeakHashMap compares by equals(), which for row Seqs is a
  // content scan — wrong cost AND wrong semantics here); cleared refs are
  // expunged from a ReferenceQueue on every access.
  private final class LocalRelKey(ref: AnyRef, q: java.lang.ref.ReferenceQueue[AnyRef])
      extends java.lang.ref.WeakReference[AnyRef](ref, q) {
    private val h = System.identityHashCode(ref)
    override def hashCode: Int = h
    override def equals(o: Any): Boolean = o match {
      case k: LocalRelKey =>
        (k eq this) || { val a = get; a != null && (a eq k.get) }
      case _ => false
    }
  }
  private val localRelQueue = new java.lang.ref.ReferenceQueue[AnyRef]
  private val localRelIds = new java.util.HashMap[LocalRelKey, java.lang.Long]
  private val localRelNext = new java.util.concurrent.atomic.AtomicLong(0L)
  private def localRelationId(data: AnyRef): Long = localRelIds.synchronized {
    var stale = localRelQueue.poll()
    while (stale != null) { localRelIds.remove(stale); stale = localRelQueue.poll() }
    val probe = new LocalRelKey(data, localRelQueue)
    val existing = localRelIds.get(probe)
    if (existing != null) existing.longValue()
    else { val id = localRelNext.getAndIncrement(); localRelIds.put(probe, id); id }
  }

  /** Edge-count ceiling for the driver union-find fast path of
    * [[connectedComponents]]: 1M edges collect as ~tens of MB and
    * union-find them in milliseconds, where the distributed star loop
    * pays 2 actions × O(log² n) rounds of joins/aggregates/checkpoints
    * — measured 1.4–1.7 s of almost pure driver/planning latency per
    * invocation on the 25-edge sf0.1 graph (job walls 0.235 s of a
    * 0.77 s wall even on a MEMO HIT), and the whole 10-row bench
    * family re-pays it. Same measured-size doctrine as
    * Ops.broadcastIfFits: the gate reads the edge COUNT the loop
    * already computes for its convergence signature, so the decision
    * costs zero extra jobs, and past the ceiling the star-contraction
    * path runs unchanged (real-dup edge volume at 100 TB blows any
    * driver budget — the ceiling is why this is a fast path, not a
    * scale regression). */
  private[graft] val ccDriverMaxEdges = 1000000L

  def connectedComponents(pairs: DataFrame, maxIter: Int = 30,
                          driverMaxEdges: Long = ccDriverMaxEdges): DataFrame = {
    // memoized by INPUT key, the bucketCounts precedent: the result is
    // built from localCheckpoints (fresh LogicalRDDs), so persist()'s
    // semantic-hash dedup can never hit — without the memo every
    // cluster-family rider in a shared-pass session (Bench's family
    // block, BigBenchLlm's family block, a production release run) re-pays the
    // whole star-contraction iteration on the same edge frame.
    //
    // The canonicalized plan STRING alone is NOT a safe key here: a
    // LocalRelation (in-memory edges) and a LogicalRDD (checkpointed
    // pair frames) both print schema without content, so two DIFFERENT
    // edge sets of the same shape would collide — a memo hit returns
    // another graph's labeling outright. The key therefore also
    // carries each leaf's IDENTITY: the RDD id for LogicalRDDs, a
    // 128-bit content digest over the row bytes for LocalRelations
    // backed by UnsafeRows (a 32-bit Seq.hashCode can collide two
    // different edge sets — and a memo collision here returns another
    // graph's labeling outright), and a process-unique per-object id
    // otherwise (a collision is impossible; at worst a fresh object
    // with equal content costs a missed reuse); scan-based leaves are
    // already distinguished by their paths in the canonical string.
    val analyzed = pairs.queryExecution.analyzed
    val leafIds = analyzed.collectLeaves().map {
      case l: org.apache.spark.sql.execution.LogicalRDD => s"rdd:${l.rdd.id}"
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val rows = l.data
        if (rows.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow])) {
          val md = java.security.MessageDigest.getInstance("MD5")
          rows.foreach { r =>
            md.update(r.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow].getBytes)
          }
          s"local:${rows.length}:${md.digest().map(b => f"$b%02x").mkString}"
        } else s"localid:${localRelationId(rows)}"
      case other => other.getClass.getName
    }
    graft.Caches.memoFrame(pairs.sparkSession,
      ("connectedComponents", analyzed.canonicalized.toString, leafIds, maxIter,
        driverMaxEdges)) {
      connectedComponentsRun(pairs, maxIter, driverMaxEdges)
    }
  }

  private def connectedComponentsRun(pairs: DataFrame, maxIter: Int,
                                     driverMaxEdges: Long): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    def symmetric(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    // min over the closed neighborhood Γ⁺(u) = min(u, min of neighbors)
    def minNbr(adj: DataFrame): DataFrame = adj.groupBy("u")
      .agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))

    // Order-insensitive checksum (count + XOR of row hashes) — one
    // small aggregate, no sort, no join; computed once per frame. XOR,
    // not sum: summing 64-bit hashes overflows under ANSI arithmetic,
    // and the edge set is distinct so XOR cancellation can't collide
    // two different sets that share a count.
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // a localCheckpoint's blocks are pinned on the RDD, invisible to
    // the cache manager — extract it so superseded rounds can be freed
    // eagerly and the final round can be handed to the Caches ledger
    def chkRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
        case _                                            => None
      }

    var edges = canon(pairs.select(col("d1").as("u"), col("d2").as("v")))
      .localCheckpoint()
    var prevSig = sig(edges)
    // MEASURED-SIZE fast path (see [[ccDriverMaxEdges]]): the edge
    // count just computed for the convergence signature doubles as the
    // gate. Below the ceiling, collect the (already materialized,
    // distinct, canonical) edges and union-find them on the driver —
    // the labeling is IDENTICAL to the star loop's fixpoint (every
    // non-root node → its component minimum; PropertySpec pins the
    // equality on random graphs), without 2 driver round-trips ×
    // O(log² n) rounds of join/aggregate/checkpoint jobs whose
    // planning latency dwarfs the data at any sub-ceiling edge volume.
    if (prevSig._1 <= driverMaxEdges) {
      val rows = edges.collect()
      chkRdd(edges).foreach(_.unpersist(blocking = false))
      // union-by-min: when two roots merge, the smaller id stays root,
      // so every tree root is its component's minimum by induction.
      // find() is ITERATIVE (walk to root, then compress) — recursion
      // would stack-overflow on a long chain near the 1M ceiling.
      val parent = new java.util.HashMap[Long, Long](rows.length * 2)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { x = p; p = parent.getOrDefault(x, x) }
        var y = x0
        while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
        x
      }
      rows.foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val seen = new java.util.HashSet[Long](rows.length * 2)
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length)
      rows.foreach { r =>
        var i = 0
        while (i < 2) {
          val n = r.getLong(i)
          if (seen.add(n)) {
            val m = find(n)
            if (m != n) out.add(org.apache.spark.sql.Row(n, m))
          }
          i += 1
        }
      }
      // nullable=true matches the star loop's checkpointed schema
      // (greatest/least over nullable parquet ids), so downstream
      // schemas are path-independent
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType, nullable = true)))
      return pairs.sparkSession.createDataFrame(out, schema)
    }
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      // large-star: every neighbor LARGER than u re-attaches to the
      // minimum of u's closed neighborhood. (v, m) is already
      // (big, small) since v > u ≥ m.
      val adjL = symmetric(edges)
      val large = adjL.join(minNbr(adjL), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: u and every neighbor ≤ u attach to the minimum.
      val adjS = symmetric(large)
      val mS = minNbr(adjS)
      val small = canon(
        adjS.join(mS, "u")
          .filter(col("v") <= col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(mS.select(col("u"), col("m").as("v"))))
        .localCheckpoint()
      // Fixpoint when the edge set is unchanged.
      val s = sig(small)
      converged = s == prevSig
      prevSig = s
      // the superseded round's checkpoint blocks are dead weight the
      // moment the new round has materialized — free them now, don't
      // wait for driver GC + ContextCleaner
      chkRdd(edges).foreach(_.unpersist(blocking = false))
      // Each round also strands its SHUFFLE files (two aggregates +
      // two joins per star pass): they are reclaimed only when the
      // dereferenced RDDs are GC'd, so an iterative loop over a large
      // edge set stacks O(rounds × edges) of dead shuffle on one box —
      // the same leak shape the staged wave sweep clears with a GC
      // nudge (see [[bucketCounts]]). Nudge only when the round's edge
      // volume is material: a full GC per round would tax the many
      // registered small-corpus CC calls for nothing.
      if (s._1 > 10000000L) System.gc()
      edges = small
      round += 1
    }
    // A partial labeling is WRONG, not approximate — a node can carry
    // several conflicting labels mid-convergence. Fail loudly over
    // returning corrupt clusters.
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds — raise maxIter")
    // the result's own checkpoint stays live for the caller; register
    // it so Caches.release(spark) frees it with the other operator
    // internals
    chkRdd(edges).foreach(graft.Caches.registerRdd(pairs.sparkSession, _))
    // At the fixpoint every edge is (node, componentMin).
    edges.select(col("u").as("doc_id"), col("v").as("cluster"))
  }

  /** Registered query: duplicate clusters of the corpus — every doc
    * labeled with the minimum doc_id of its transitive near-dup
    * closure (3-gram Jaccard ≥ 0.6), singletons labeling themselves.
    * The DuckDB oracle reproduces the transitive closure with a
    * recursive CTE, so the graph algorithm itself is hash-checked. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cc = connectedComponents(jaccardPairs(docs, threshold = 0.6).select("d1", "d2"))
    docs.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .orderBy("doc_id")
  }

  /** Text normalization + PII redaction — the scrub pass a corpus runs
    * before training: emails → `<EMAIL>`, URLs → `<URL>`, long digit
    * runs (phone numbers, SSN-ish ids) → `<NUM>`, then lowercase and
    * whitespace collapse. Pure projection (no shuffle, no UDF); the
    * regexes stay inside the Java-regex ∩ RE2 common subset (character
    * classes, bounded repetition — no backreferences or lookaround) so
    * the DuckDB oracle runs the identical patterns. Redaction counts
    * ride along so a pipeline can filter on PII density. */
  /** Per-language corpus report — the summary table every pipeline run
    * prints: document counts, token totals, length distribution
    * (median via exact percentile for oracle parity — a 100-TB run
    * swaps in approx_percentile), and distinct sources. One grouped
    * aggregation; the percentile is the only memory-heavy member and
    * the swap point is documented, not hidden. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 4).as("avg_tokens"),
        round(expr("percentile(n_tokens, 0.5)"), 4).as("med_tokens"),
        max("n_chars").as("max_chars"),
        count_distinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** The cluster-policy dedup DECISION: keep exactly the minimum-id
    * representative of each transitive near-dup closure — the
    * alternative to [[dedupKeepList]]'s greedy pairwise drop (which
    * over-drops on chains). One row per surviving doc. */
  def dedupClusterKeep(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .filter(col("doc_id") === col("cluster"))
      .select("doc_id")
      .orderBy("doc_id")

  /** Per-source DEDUP SAVINGS report — what the keep-min-id dedup
    * ([[dedupClusterKeep]]) would actually delete, priced in the unit
    * that matters: tokens. The number every mix decision starts from
    * ("dedup shrinks source X by 38%, source Y barely moves"), but
    * computing it ad hoc means re-running detection — here it rides
    * the SAME cached pair frame + CC pass as the cluster family and
    * adds one docs-sized projection (dropped ⇔ doc_id ≠ cluster root)
    * and a source-count-sized aggregate. `drop_frac` uses the engine-
    * exact floor-rounding contract; `count(CASE)` keeps the integer
    * columns BIGINT on both engines. */
  def corpusDedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cc = connectedComponents(
      jaccardPairs(docs, threshold = 0.6).select("d1", "d2"))
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("source"), col("n_tokens"),
        (coalesce(col("cluster"), col("doc_id")) =!= col("doc_id")).as("dropped"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("dropped"), lit(1))).as("n_dropped"),
        sum(col("n_tokens")).as("tokens"),
        coalesce(sum(when(col("dropped"), col("n_tokens"))), lit(0L))
          .as("tokens_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"), col("tokens"),
        col("tokens_dropped"),
        Ops.r4(col("tokens_dropped").cast("double") / col("tokens"))
          .as("drop_frac"))
      .orderBy("source")
  }

  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[^ ]+"
  private val numRe = "[0-9]{6,}"

  /** The redaction+collapse expression itself, reusable wherever a text
    * column flows — including streaming stages ([[scrubDocs]]), where
    * it stays a stateless projection. */
  def normTextCol(text: Column): Column =
    trim(regexp_replace(
      lower(regexp_replace(regexp_replace(regexp_replace(
        text, urlRe, "<URL>"), emailRe, "<EMAIL>"), numRe, "<NUM>")),
      " {2,}", " "))

  def normalizeText(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).as("n_emails"),
      regexp_count(col("text"), lit(urlRe)).as("n_urls"),
      regexp_count(col("text"), lit(numRe)).as("n_nums"),
      normTextCol(col("text")).as("text_norm"))

  def textNormalize(spark: SparkSession, dir: String): DataFrame =
    normalizeText(Tables.load(spark, dir, "documents")).orderBy("doc_id")

  /** Streaming-composable corpus scrub: redact + normalize, then gate
    * on the quality score — both stateless projections, so the SAME
    * code runs identically over a bounded frame or a `readStream`
    * micro-batch (no state store, no watermark; spec asserts
    * stream-vs-batch row equality). The ingestion-time filter a corpus
    * pipeline runs before anything shuffles. */
  def scrubDocs(docs: DataFrame, minQuality: Double = 0.4): DataFrame =
    qualityScore(
      docs.select(col("doc_id"), col("lang"), normTextCol(col("text")).as("text")))
      .filter(col("quality") >= minQuality)

  /** Repetition signals (the Gopher/MassiveText filters): what fraction
    * of a document is the same thing over and over. Two signals:
    *   - `dup_trigram_frac`: 1 − distinct/total word-3-grams.
    *   - `top_bigram_frac`: occurrences of the single most frequent
    *     word-2-gram / total bigrams. A doc's bigrams all live in its
    *     own row, so the mode count is one codegen'd hash-map pass
    *     ([[graft.functions.VectorExpressions.ModeCount]]) — NOT an
    *     explode + groupBy (which shuffles corpus × (tokens−1) rows:
    *     ~the whole corpus again, for a per-row statistic), and not an
    *     O(n²) count-each-element loop either.
    * Entirely map-side — zero shuffles, embarrassingly parallel (the
    * registered query sorts; this building block does not).
    * A sub-3-token doc has no trigrams (dup_trigram_frac = 0); a
    * 2-token doc's single bigram is trivially its own mode
    * (top_bigram_frac = 1) — filter on n_bigrams if short docs should
    * be exempt. NULL text degrades like empty text (0s), matching the
    * oracle's no-rows-from-unnest path. */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        coalesce(split(col("text"), " "), array()).as("t"))
      .select(col("doc_id"),
        expr(s"CASE WHEN size(t) >= 2 THEN ${kgramSql(2)} ELSE array() END").as("bg"),
        expr(s"CASE WHEN size(t) >= 3 THEN ${kgramSql(3)} ELSE array() END").as("tg"))
      .select(col("doc_id"), col("bg"), col("tg"),
        // max multiplicity via the codegen'd one-pass hash-map count
        // (the interpreted aggregate(array_sort(...)) run-length fold
        // cost one lambda dispatch per element and an O(n log n) sort)
        graft.functions.VectorExpressions.modeCount(col("bg")).as("top_c"))
      .select(col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        when(size(col("bg")) > 0,
          Ops.r4(col("top_c").cast("double") / size(col("bg"))))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        when(size(col("tg")) > 0,
          Ops.r4(lit(1.0) - size(array_distinct(col("tg"))).cast("double") / size(col("tg"))))
          .otherwise(lit(0.0)).as("dup_trigram_frac"))

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.load(spark, dir, "documents")).orderBy("doc_id")

  /** Overlapping token-window chunking — long documents split into
    * training-window-sized pieces (window `w` tokens, stride `stride`,
    * so consecutive chunks overlap by w − stride). One generate per
    * doc (`explode(sequence(...))` = chunk start positions), then the
    * slice/join projection on the exploded rows; the token array is
    * materialized ONCE per doc before the explode, so optimizer
    * inlining can't re-split the text per chunk (the [[shingleArray]]
    * pitfall). Scale shape: pure narrow op — rows multiply by
    * ⌈n/stride⌉ but never shuffle. */
  def chunkDocs(docs: DataFrame, w: Int = 32, stride: Int = 24): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        explode(expr(s"sequence(1, size(t), $stride)")).as("start"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / stride).cast("long").as("chunk_id"),
        expr(s"size(slice(t, start, $w))").as("n_tokens"),
        expr(s"array_join(slice(t, start, $w), ' ')").as("chunk_text"))

  def docChunk(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables.load(spark, dir, "documents"))
      .orderBy("doc_id", "chunk_id")

  /** Top-k TF-IDF terms per document — the keyword profile used for
    * topic bucketing and domain mixing. Two aggregations and a window:
    * term frequency per (doc, token) — one shuffle keyed by doc+token;
    * document frequency per token over the TF frame (already exact,
    * no re-scan of the corpus); the corpus size joins in as a 1-row
    * broadcast. Ranking ties break on the token so the output is
    * deterministic (and cross-engine comparable). At 100 TB the only
    * wide column is the (token, df) vocabulary — hundreds of millions
    * of rows at web scale, still a plain shuffle join, never a
    * driver-side dictionary. */
  def tfidfTop(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE corpus-sized shuffle, keyed by doc_id alone: HashPartitioning
    // (doc_id) satisfies both the (doc_id, tok) aggregation's clustering
    // requirement (subset rule) and the ranking window's, so the TF
    // aggregate and the per-doc top-k run in place on the same exchange.
    // The naive composition paid three 100M+-row exchanges at 4M docs:
    // (doc_id, tok) for TF, tok for the vocabulary sort-merge join,
    // doc_id again for the window.
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .repartition(col("doc_id"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // document frequency from its own scan (explode of per-doc DISTINCT
    // tokens → map-side-combined vocab-sized aggregate) rather than
    // from `tf` — deriving it from tf would execute the corpus shuffle
    // twice, once per consumer of the uncached subtree.
    val dfreq = docs
      .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // vocabulary joins map-side when its measured size fits (Heaps'
    // law; same decision as unigramSurprisal), shuffle join otherwise
    val joined = Ops.joinBroadcastIfFits(tf, dfreq, "tok")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok").asc)
    joined
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"),
        round(col("score"), 4).as("tfidf"), col("rnk"))
  }

  def textTfidf(spark: SparkSession, dir: String): DataFrame =
    tfidfTop(Tables.load(spark, dir, "documents"))
      .orderBy("doc_id", "rnk")

  /** Unigram language-model surprisal per document — the cheap
    * perplexity-style quality signal (CCNet's approach, with the
    * KenLM swapped for the corpus's own unigram distribution): score
    * every document by the mean negative log-probability of its tokens
    * under the corpus token frequencies. Gibberish and rare-token soup
    * score high; repetitive boilerplate scores low — pipelines filter
    * both tails.
    *
    * Shape: one explode → (token) count aggregation builds the unigram
    * table (the same vocabulary shuffle as TF-IDF — never a
    * driver-side dictionary), the token stream joins against it
    * (plain shuffle join; the vocabulary is web-scale-safe), and a
    * per-doc aggregation folds the log-probs. The corpus total rides
    * in as a 1-row broadcast. */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    // token instances keyed by xxhash64 — 8 fixed bytes through every
    // shuffle instead of a string (the shingle-path rule)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("t"))
    // the unigram table is tiny relative to the token stream (Heaps'
    // law: |vocab| ~ O(n^0.6)); the grand total derives from it
    // instead of a third corpus scan. Broadcasting the vocabulary
    // (when it fits — [[Ops.joinBroadcastIfFits]]) is THE shape
    // decision: it deletes both corpus-sized shuffles — tokens join
    // map-side in scan order, so the per-doc partial aggregate
    // compresses each partition to its own doc_ids before the only
    // shuffle. The sort-merge fallback (measured: 165 s at 4M docs vs
    // 24 s broadcast — two 160M-row spilling shuffles) stays for
    // web-scale vocabularies.
    // joinBroadcastIfFits persists the small side itself (registry-
    // deduplicated), so `total` below reads the same cached frame
    val unigram = toks.groupBy("t").agg(count(lit(1)).as("tf"))
    val total = unigram.agg(sum("tf").cast("long").as("total"))
    Ops.joinBroadcastIfFits(toks, unigram, "t")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("tf").cast("double") / col("total"))), 4).as("avg_surprisal"))
      .orderBy("doc_id")
  }

  def textSurprisal(spark: SparkSession, dir: String): DataFrame =
    unigramSurprisal(Tables.load(spark, dir, "documents"))

  /** Bigram conditional-LM surprisal — the next step up from
    * [[unigramSurprisal]]: score each document by the mean
    * `-ln P(w_i | w_{i-1})` under the corpus's own bigram MLE.
    * Repetitive/templated text (predictable continuations) scores low,
    * shuffled-word soup scores high even when its unigram mix is
    * normal — which is exactly the gibberish the unigram score misses.
    * MLE needs no smoothing here because the corpus scores itself:
    * every bigram being scored is, by construction, in the model.
    *
    * Shape: bigram pairs form MAP-SIDE (`zip_with` over the token
    * array with its own tail — never a window/shuffle to pair
    * neighbors). Both count tables — bigram `(w1,w2)` and context
    * `(w1·)` — aggregate off that one pair stream with map-side
    * combine, and both ride Heaps' law (bigram vocab ~ O(n^0.8),
    * still far under the corpus), joining back broadcast when they
    * fit, shuffle when they don't ([[Ops.joinBroadcastIfFits]]).
    * Pairs shuffle as two 8-byte hashes, not strings. */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    // The pair stream is MAP-SIDE RECOMPUTED by each consumer — three
    // explode+hash passes — because both "optimizations" measured
    // SLOWER at 1M docs: per-(doc, bigram) pre-aggregation (21.5 s →
    // 35.9 s: high-entropy text has ~1 instance per (doc, bigram), so
    // the aggregate compressed nothing and added a 39M-row doc-keyed
    // shuffle + persist), and deriving the context table from the
    // bigram table (→ 29.9 s: the bigram subtree recomputes per
    // consumer, while the direct h1 aggregate below collapses 40M →
    // |vocab| rows in map-side combine — a near-free "extra" pass).
    // An explode + two codegen hashes re-run map-side is cheaper than
    // shuffling or caching its output.
    val pairs = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("z"))
      .select(col("doc_id"),
        xxhash64(col("z.w1")).as("h1"),
        xxhash64(col("z.w1"), col("z.w2")).as("h12"))
    val bigram = pairs.groupBy("h12").agg(count(lit(1)).as("nb"))
    // context count c(w1·) = bigrams starting with w1 — from the same
    // pair stream, so the two tables can never disagree on
    // tokenization (the oracle reproduces it as sum(nb) per w1)
    val context = pairs.groupBy("h1").agg(count(lit(1)).as("nw"))
    Ops.joinBroadcastIfFits(
        Ops.joinBroadcastIfFits(pairs, bigram, "h12"), context, "h1")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("nb").cast("double") / col("nw"))), 4)
          .as("avg_surprisal"))
      .orderBy("doc_id")
  }

  def textBigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    bigramSurprisal(Tables.load(spark, dir, "documents"))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by the log-likelihood ratio of its hashed-unigram
    * features under a target-domain bag-of-words model vs the raw
    * corpus model. Downstream, `Gumbel top-k` on these weights
    * resamples a target-like corpus; the weight computation is the
    * expensive distributed part and is what's implemented here. The
    * target domain is the corpus's own `lang = 'en'` slice (the
    * Wikipedia-as-target stand-in for the synthetic table).
    *
    * Hashing into B=1024 buckets bounds both model tables at B rows
    * regardless of vocabulary — the models broadcast at ANY corpus
    * scale, unconditionally (unlike the surprisal vocab join which
    * must degrade to shuffle past Heaps-law size). The hash is the
    * engine-portable md5-prefix family (same as the minhash/simhash
    * oracle rows), so DuckDB reproduces bucket assignment bit-for-bit.
    *
    * Shape: one map-side projection to (doc_id, bucket), ONE
    * doc_id-keyed corpus shuffle into per-(doc, bucket) counts, then a
    * broadcast join against the 1024-row weight table and a per-doc
    * fold. The model tables aggregate map-side into ≤B rows per
    * partition before their own (tiny) shuffle. Add-one smoothing on
    * both models keeps empty-on-one-side buckets finite. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  buckets: Int = 1024): DataFrame = {
    // ONE corpus explode+md5 pass, folded straight into per-(doc,
    // lang, bucket) multiplicities; both models derive from this frame
    // (≤ n_docs × B rows — far under the token stream), so the md5 per
    // token instance is paid once, not once per model. lang rides in
    // the grouping key at zero cardinality cost (one lang per doc).
    // md5Prefix60: one codegen'd digest pass per token instance —
    // value-identical to the conv(substring(md5(tok),1,15),16,10)
    // string chain (FunctionsSpec pins it), whose four string
    // round-trips per token were ~60% of this row's CPU.
    val db = graft.Caches.persist(docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
        (graft.functions.VectorExpressions.md5Prefix60(col("tok"))
          % buckets).as("bkt"))
      .groupBy("doc_id", "lang", "bkt").agg(count(lit(1)).as("c")))
    val model = db.groupBy("bkt").agg(
      sum("c").as("nr"),
      sum(when(col("lang") === targetLang, col("c")).otherwise(0L)).as("nt"))
    val totals = model.agg(sum("nr").as("tr"), sum("nt").as("tt"))
    val weights = model.crossJoin(broadcast(totals))
      .select(col("bkt"), log(
        ((col("nt") + 1).cast("double") / (col("tt") + buckets)) /
        ((col("nr") + 1).cast("double") / (col("tr") + buckets))).as("lw"))
    db.join(broadcast(weights), "bkt")
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_tokens"),
        round(sum(col("c") * col("lw")), 4).as("log_ratio"))
      .orderBy("doc_id")
  }

  def corpusDsir(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.load(spark, dir, "documents"))

  /** The resampling half of DSIR: Gumbel top-k over the importance
    * weights (log-weight + Gumbel noise ≡ sampling WITHOUT replacement
    * proportionally to weight — Vieira 2014's Gumbel-max trick, the
    * exact construction the DSIR paper prescribes). The noise is
    * derived from md5(doc_id), not rand(): reproducible on any
    * cluster, any partitioning, any retry — a resample that changes
    * under speculative re-execution would poison training-data
    * provenance. Selection is `ORDER BY score LIMIT k` — planned as
    * TakeOrderedAndProject (per-partition top-k heaps, k rows to the
    * driver), never a global sort. */
  def dsirSelect(docs: DataFrame, targetLang: String = "en",
                 k: Int = 100): DataFrame = {
    val u = (expr("conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10)")
      .cast("double") + 0.5) / math.pow(2, 60).toLong
    dsirWeights(docs, targetLang)
      .select(col("doc_id"),
        round(col("log_ratio") + round(-log(-log(u)), 4), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  def corpusDsirSelect(spark: SparkSession, dir: String): DataFrame =
    dsirSelect(Tables.load(spark, dir, "documents"))

  /** Fuzzy decontamination — [[decontaminate]] catches verbatim
    * shingle overlap; this catches the NEAR-duplicated eval leakage
    * (reformatted, lightly edited benchmark text) that exact shingles
    * miss. Same banded MinHash pipeline as [[minhashPairsPortable]],
    * crossed between corpus and eval instead of self-joined: corpus
    * signatures stream map-side into a band join against the eval
    * side's banded signatures (broadcast when the measured size fits —
    * an eval suite is thousands of docs against a corpus of billions —
    * degrading to shuffle for corpus-vs-corpus contamination sweeps),
    * then exact Jaccard verifies only the candidates. md5 hash family
    * → the DuckDB oracle replays signatures, banding, candidates and
    * verify value-for-value. */
  def fuzzyDecontaminate(docs: DataFrame, evalDocs: DataFrame,
                         simThreshold: Double = 0.5): DataFrame = {
    val md5 = graft.functions.VectorExpressions.minhashSigMd5 _
    Lsh.jaccardVerified(
      Lsh.candidates(minhashSigs(docs, md5), minhashSigs(evalDocs, md5), MinhashBands,
        self = false, ("doc_id", "eval_id"), measuredBroadcast = true),
      docs, evalDocs, simThreshold)
  }

  /** Same held-out convention as [[docDecontaminate]] (doc_id % 100 ==
    * 0 plays the eval suite), at a 0.5 bar — the near-dup tier above
    * the exact-shingle screen. */
  def docDecontaminateFuzzy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    fuzzyDecontaminate(
      docs.filter(pmod(col("doc_id"), lit(100)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(100)) === 0))
  }

  /** Heavy hitters — the tokens exceeding `1/thresholdInv` of the
    * corpus token stream, found WITHOUT a full-vocabulary shuffle.
    *
    * Why not `groupBy(tok).count().filter(...)`? At 100 TB the
    * vocabulary aggregate shuffles Heaps-law hundreds of millions of
    * (token, count) rows to answer a question whose result is a
    * handful of tokens. Instead: ONE pass through the token stream
    * feeds a [[graft.functions.MisraGries]] sketch (k counters per
    * partition, merged by Spark's partial aggregation — bounded memory
    * everywhere, nothing vocabulary-sized anywhere), whose surviving
    * keys are a guaranteed SUPERSET of every token above threshold
    * (k > thresholdInv ⇒ the n/(k+1) error bound can't evict a true
    * heavy hitter). A second pass re-counts ONLY the ≤k candidates
    * (broadcast join — the shuffle carries ≤k groups after map-side
    * combine) and applies the exact cut, so the output is exactly the
    * true heavy-hitter set: merge order, sketch internals, and
    * estimate noise never reach the result, which is why this is a
    * hard oracle row and not a `no_oracle` sketch query. */
  def heavyHitters(docs: DataFrame, thresholdInv: Int = 100,
                   k: Int = 400): DataFrame = {
    require(k > thresholdInv,
      s"superset guarantee needs k > thresholdInv, got k=$k, 1/θ=$thresholdInv")
    import org.apache.spark.sql.graftshim.ColumnBridge
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val sketch = toks.agg(
      ColumnBridge.column(graft.functions.MisraGries(
        ColumnBridge.expression(col("tok")), k).toAggregateExpression()).as("mg"),
      count(lit(1)).as("total"))
    val cands = sketch.select(explode(map_keys(col("mg"))).as("tok"), col("total"))
    toks.join(broadcast(cands), "tok")
      .groupBy("tok", "total").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * thresholdInv > col("total"))
      .select("tok", "cnt")
      .orderBy("tok")
  }

  def textHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHitters(Tables.load(spark, dir, "documents"))

  /** The sketch half of [[heavyHitters]] as a batch/stream-agnostic
    * plan — on a streaming frame this is a complete-mode aggregation
    * whose state is the serialized Misra-Gries buffer itself (the
    * same mergeable-summary property that makes the batch partial
    * aggregation correct makes the micro-batch fold correct: batch
    * slicing is just another merge tree). An ingest pipeline keeps
    * this running beside the corpus ingest and re-counts candidates
    * offline whenever it wants the exact current heavy-hitter set. */
  def heavyHitterSketchStream(docs: DataFrame, k: Int = 400): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(
        ColumnBridge.column(graft.functions.MisraGries(
          ColumnBridge.expression(col("tok")), k).toAggregateExpression()).as("mg"),
        count(lit(1)).as("total"))
  }

  /** Stratified deterministic sampling — the domain-mixing step of
    * corpus assembly: each stratum (here: language) is downsampled at
    * its own target rate, so the output corpus hits a prescribed
    * language/domain mix. Same content-hash filter as [[sampleHash]]
    * (reproducible on any cluster at any partitioning), with the
    * stratum's threshold looked up from a broadcast literal map —
    * still a pure map-side filter, no shuffle, no rand(). Rates are
    * two-hex-digit cutoffs on md5(text): 'x' keeps x/256 of the
    * stratum; absent strata are dropped entirely. */
  def stratifiedSample(docs: DataFrame,
                       cutoffs: Map[String, String]): DataFrame =
    docs.filter(substring(md5(col("text").cast("binary")), 1, 2) <
        coalesce(element_at(typedlit(cutoffs), col("lang")), lit("00")))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** Registered query: keep 75% of en, 50% of de, 25% of es, 12.5% of
    * fr, drop zh — the shape of a real language-rebalancing pass. */
  val mixCutoffs: Map[String, String] =
    Map("en" -> "c0", "de" -> "80", "es" -> "40", "fr" -> "20")

  def corpusMix(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.load(spark, dir, "documents"), mixCutoffs)

  /** Temperature-balanced language sampling — the multilingual
    * pretraining mix (mBERT/XLM-R/mT5): language l gets a quota
    * ∝ c_l^α with α = 0.5, so low-resource languages are upweighted
    * relative to their raw share (α = 1 is proportional, α = 0 is
    * uniform). quota_l = ⌊N·√c_l ⁄ Σ√c + 0.5⌋ with N = ⌊frac·n + 0.5⌋;
    * within a language, documents rank by (md5(text), doc_id) — the
    * same content-keyed deterministic order as [[reservoirPerStratum]],
    * so the cut is partition- and cluster-invariant and the oracle
    * replays it. √ (not pow) because IEEE requires sqrt to be
    * correctly rounded — both engines compute the identical double,
    * while pow is only faithfully rounded and may differ by an ulp.
    * Cost: two tiny aggregates (|langs| rows) broadcast back; the
    * corpus pays one lang-shuffle for the rank window, and
    * WindowGroupLimit caps exchanged rows at quota·|langs| once the
    * rank filter is pushable. */
  def temperatureSample(docs: DataFrame, frac: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import docs.sparkSession.implicits._
    // Per-lang counts are |langs| rows — driver-collecting them is the
    // same bounded materialization as k-means centroids. Summing the
    // √c terms driver-side IN SORTED LANG ORDER pins the floating-point
    // accumulation order (a distributed sum(sqrt(c)) reduces in
    // whatever order partitions finish, so a quota landing within an
    // ulp of a .5 floor boundary could flip run-to-run); left-to-right
    // over sorted langs is deterministic and partition-invariant.
    val countRows = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    if (countRows.isEmpty)
      return docs.select(col("doc_id"), col("lang"),
        lit(0).as("rk")).filter(lit(false))
    val n = countRows.map(_._2).sum
    val z = countRows.foldLeft(0.0) { case (acc, (_, c)) => acc + math.sqrt(c.toDouble) }
    val bigN = math.floor(n * frac + 0.5)
    val quotaRows = countRows.map { case (l, c) =>
      (l, math.floor(bigN * math.sqrt(c.toDouble) / z + 0.5).toLong)
    }
    // the LITERAL max-quota cap is what lets WindowGroupLimit prune
    // map-side (a rank-vs-joined-column filter can't): each task keeps
    // ≤ maxQuota rows per language BEFORE the lang exchange, so the
    // shuffle carries quota-bounded rows, not the corpus; the exact
    // per-lang cut then applies over the already-pruned stream.
    val maxQuota = quotaRows.map(_._2).max
    val quotas = quotaRows.toSeq.toDF("lang", "quota")
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("text").cast("binary")), col("doc_id"))
    docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= lit(maxQuota))
      .join(broadcast(quotas), "lang")
      .filter(col("rk") <= col("quota"))
      .select("doc_id", "lang", "rk")
      .orderBy("lang", "rk")
  }

  def corpusTemperatureSample(spark: SparkSession, dir: String): DataFrame =
    temperatureSample(Tables.load(spark, dir, "documents"))

  /** Token-budget source mixing — the unit a training mix is actually
    * specified in is TOKENS, not documents: each source gets an equal
    * token budget (total·frac ÷ |sources|, the flattening mix that
    * upweights small sources; a proportional mix is the same plan with
    * per-source budgets), filled greedily in the content-keyed
    * (md5(text), doc_id) order, so the cut is deterministic,
    * partition-invariant and oracle-replayable. The running token sum
    * is a rows-frame window per source — one source-partitioned
    * shuffle; budgets are a 2-row aggregate broadcast back. A doc is
    * kept iff its cumulative sum fits the budget (the last partial doc
    * is dropped, not split — packing, not truncation, owns splitting).
    * All-integer arithmetic: no rounding contract needed beyond the
    * floor on the budget itself. */
  def tokenBudgetMix(docs: DataFrame, frac: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      md5(col("text").cast("binary")).as("h"))
    val budget = sized.agg(
      floor(sum("n_tokens") * frac / countDistinct("source")).cast("long")
        .as("src_budget"))
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.withColumn("cum_tokens", sum("n_tokens").over(w))
      .crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("src_budget"))
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .orderBy("source", "cum_tokens")
  }

  def corpusTokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetMix(Tables.load(spark, dir, "documents"))

  /** Percentile-based length trimming — the tail cut every curation
    * pass applies (fragments below the low percentile and outliers
    * above the high one are both training poison). The percentile pair
    * is ONE tiny aggregate broadcast back over the corpus — the corpus
    * itself stays a map-side filter, no window over all rows. Exact
    * percentile for oracle parity; a 100-TB run swaps in
    * approx_percentile (same plan shape, bounded memory). */
  def trimByLength(docs: DataFrame, pLow: Double = 0.1, pHigh: Double = 0.99): DataFrame = {
    val sized = docs.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val bounds = sized.agg(
      expr(s"percentile(n_tokens, $pLow)").as("lo"),
      expr(s"percentile(n_tokens, $pHigh)").as("hi"))
    sized.crossJoin(broadcast(bounds))
      .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
      .select("doc_id", "lang", "n_tokens")
      .orderBy("doc_id")
  }

  def corpusTrim(spark: SparkSession, dir: String): DataFrame =
    trimByLength(Tables.load(spark, dir, "documents"))

  /** Deterministic train/validation/test assignment — the reproducible
    * split every training run needs: content-keyed (re-ingested
    * duplicates land in the SAME split, so no eval example ever leaks
    * into train via a copy), partition-invariant, cluster-invariant.
    * Same md5-prefix mechanism as [[sampleHash]]; 'cc' ≈ 80% train,
    * 'e6' ≈ next 10% val, rest test. Pure projection. */
  def splitAssign(docs: DataFrame,
                  trainBelow: String = "cc", valBelow: String = "e6"): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      splitExpr(trainBelow, valBelow).as("split"))
      .orderBy("doc_id")

  /** [[splitAssign]]'s content-keyed split rule as a bare expression
    * over a `text` column — for callers attaching the assignment to an
    * arbitrary frame (the streaming leakage audit). */
  def splitExpr(trainBelow: String = "cc", valBelow: String = "e6"): Column =
    when(substring(md5(col("text").cast("binary")), 1, 2) < trainBelow, lit("train"))
      .when(substring(md5(col("text").cast("binary")), 1, 2) < valBelow, lit("val"))
      .otherwise(lit("test"))

  /** LEAK-FREE split assignment — the FIX for what [[splitLeakage]]
    * finds: every member of a near-dup cluster inherits the split of
    * the cluster's canonical (min doc_id) member, so NO near-dup pair
    * can straddle a boundary, by construction (a qualifying pair is an
    * edge, edges put both ends in one component, and a component has
    * one root). Exact duplicates already co-locate under the content
    * hash; this closes the near-dup gap the audit measures. Cost: the
    * same connected-components pass as [[dedupClusters]] (riding the
    * registry-cached pair frame) plus two doc_id-keyed joins to carry
    * the root's split to the members; singletons keep their own
    * assignment (root = self). `moved` flags the docs the rebalance
    * actually relocated, making the fix auditable row-by-row. */
  def splitLeakFree(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    val cc = connectedComponents(
      jaccardPairs(docs, threshold).select("d1", "d2"))
    val own = docs.select(col("doc_id"), splitExpr().as("own_split"))
    val withCluster = own.join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("own_split"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
    withCluster.as("m")
      .join(own.as("r"), col("m.cluster") === col("r.doc_id"))
      .select(col("m.doc_id").as("doc_id"),
        col("r.own_split").as("split"),
        (col("r.own_split") =!= col("m.own_split")).as("moved"))
      .orderBy("doc_id")
  }

  def corpusSplitLeakFree(spark: SparkSession, dir: String): DataFrame =
    splitLeakFree(Tables.load(spark, dir, "documents"))

  /** Near-dup cluster SIZE DISTRIBUTION — the dedup health metric:
    * how much of the corpus is duplicated, and in what shapes (many
    * pairs? a few giant template clusters?). Singletons are counted
    * too, so `sum(n_docs)` = |corpus| — the full accounting that turns
    * the histogram into a dedup coverage report. Rides the cached
    * pair frame + the same connected-components pass as
    * [[dedupClusters]]; the two stacked aggregates after it are
    * cluster-count-sized, then size-count-sized — nothing corpus-scale
    * shuffles twice. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cc = connectedComponents(
      jaccardPairs(docs, threshold = 0.6).select("d1", "d2"))
    docs.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy("cluster_size")
  }

  def docSplit(spark: SparkSession, dir: String): DataFrame =
    splitAssign(Tables.load(spark, dir, "documents"))

  /** Train/eval LEAKAGE AUDIT — near-duplicate pairs straddling a
    * split boundary. [[splitAssign]] is content-keyed precisely so an
    * EXACT duplicate can never land in a different split than its
    * copy; what content hashing cannot prevent is NEAR-duplicates
    * (one-word edits, template variants) falling on opposite sides —
    * the contamination that quietly inflates eval scores. This is the
    * audit view: it rides the SAME persisted inverted-index pair pass
    * as [[jaccardPairs]] (zero additional corpus work when the dedup
    * family already ran — the pair frame is registry-cached), joins
    * the ≤|pairs| rows to the docs-sized split map by doc_id twice
    * (the map is never broadcast; the joins key the tiny pair side),
    * keeps only split-straddling pairs, and lists the worst offenders
    * first. At 100 TB the marginal cost over the standing pair pass
    * is two hash joins on a near-dup-volume frame. */
  def splitLeakage(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    val pairs = jaccardPairs(docs, threshold)
    val sp = splitAssign(docs).select("doc_id", "split")
    pairs
      .join(sp.select(col("doc_id").as("d1"), col("split").as("split1")), "d1")
      .join(sp.select(col("doc_id").as("d2"), col("split").as("split2")), "d2")
      .filter(col("split1") =!= col("split2"))
      .select(col("d1"), col("d2"),
        least(col("split1"), col("split2")).as("split_a"),
        greatest(col("split1"), col("split2")).as("split_b"),
        col("jaccard"))
      .orderBy(col("jaccard").desc, col("d1"), col("d2"))
  }

  def corpusSplitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakage(Tables.load(spark, dir, "documents"))

  // --------------------------------------------------------------------
  // Exact substring dedup (duplicated k-token passages)
  // --------------------------------------------------------------------

  /** Every k-token window of every document with its 0-based position,
    * keyed by the xxhash64 of the window text — the positional twin of
    * [[shingles]] (which deduplicates windows per doc; here position
    * and multiplicity matter, because the unit of deduplication is the
    * OCCURRENCE, not the shingle). Hashed 8-byte keys and a single
    * repartition on the key, so the count aggregate, the window rank,
    * and the join back are all co-partitioned — one shuffle of the
    * token-scale stream no matter how the result is consumed. */
  private def gramWindows(docs: DataFrame, k: Int): DataFrame =
    docs.withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= k)
      // positional (non-distinct) codegen shingle hashing — the same
      // (pos, xxhash64(gram)) rows the posexplode + string-gram chain
      // produced, without per-window gram strings in the row stream
      .select(col("doc_id"), posexplode(
        graft.functions.VectorExpressions.shingleHash64(
          col("t"), k, distinct = false)).as(Seq("pos", "g")))
      .repartition(col("g"))

  /** Per-document duplicated-passage profile: of a document's k-token
    * windows, how many occur anywhere else in the corpus (including a
    * second time in the same document)? High dup_frac marks boilerplate
    * and template text that near-dup document matching misses — the
    * passage-level signal behind exact-substring dedup (see Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022 — the ExactSubstr pass their suffix-array tool runs;
    * here re-expressed as a window-hash aggregate, which a cluster can
    * shuffle-partition where a suffix array cannot).
    *
    * Scale shape: the window stream is |tokens| rows of 20 bytes
    * (hash + id + pos); the occurrence count is a map-side-combining
    * hash aggregate on the already-partitioned key; the dup-set join
    * back is co-partitioned (no second shuffle of the stream); the
    * per-doc totals come from a 1-row-per-doc projection, never from
    * re-aggregating the exploded stream. */
  def dupPassageProfile(docs: DataFrame, k: Int = 8): DataFrame = {
    val grams = gramWindows(docs, k)
    val dup = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("g")
    val perDocDup = grams.join(dup, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_grams"))
    val totals = docs
      .select(col("doc_id"), (size(split(col("text"), " ")) - k + 1).as("n_grams"))
      .filter(col("n_grams") > 0)
    totals.join(perDocDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams").cast("long").as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_frac",
        Ops.r4(col("dup_grams").cast("double") / col("n_grams")))
      .orderBy("doc_id")
  }

  def textDupPassages(spark: SparkSession, dir: String): DataFrame =
    dupPassageProfile(Tables.load(spark, dir, "documents"))

  /** Exact substring dedup: strip every duplicated k-token passage
    * occurrence EXCEPT the canonical first one (lexicographic min
    * (doc_id, pos) per window text), then reassemble each document
    * from its surviving tokens. Documents whose every token sits under
    * a stripped window vanish (an exact duplicate of an earlier doc is
    * removed entirely — the ExactSubstr semantics).
    *
    * Scale shape: occurrence rank and count are both windows over the
    * SAME (g)-partitioning the stream already has — Spark plans one
    * exchange and one sort for the pair. Stripped positions explode to
    * at most k rows per duplicated occurrence (duplicated-volume, not
    * corpus-volume), and the rebuild is one token-level anti join +
    * aggregate keyed by doc_id. No suffix array, no driver state —
    * every stage is a shuffle the cluster partitions. */
  def stripDupPassages(docs: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byG = Window.partitionBy("g")
    val occ = gramWindows(docs, k)
      .withColumn("c", count(lit(1)).over(byG))
      .withColumn("rk", row_number().over(byG.orderBy("doc_id", "pos")))
    val drops = occ.filter(col("c") > 1 && col("rk") > 1)
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("p"))
      .distinct()
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
    toks.join(drops, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(p, tok))), x -> x.tok)"),
        " ").as("text_stripped"))
      .orderBy("doc_id")
  }

  def dedupSubstrStrip(spark: SparkSession, dir: String): DataFrame =
    stripDupPassages(Tables.load(spark, dir, "documents"))

  /** End-to-end curation pipeline — the composed pass a training run
    * actually executes: exact dedup → quality gate → length floor →
    * deterministic downsample, as ONE declarative plan (Catalyst fuses
    * the post-dedup stages into a single projection+filter over the
    * aggregate, so the whole pipeline costs exactly one shuffle — the
    * text-keyed dedup).
    *
    * The dedup keeps `min(struct(doc_id, lang, source))` per distinct
    * text: struct ordering compares doc_id first, so the winner is the
    * same min-doc_id representative as [[dedupExact]] but carries its
    * lang/source along without a join back. Everything downstream
    * (token count, quality score, md5 gate) is a map over the winner
    * rows. Scale: one hash-aggregate shuffle on text, then narrow —
    * the same shape at 100 TB, with AQE coalescing the post-agg
    * stream. */
  def curatePipeline(docs: DataFrame, minQuality: Double = 0.55,
                     minTokens: Int = 8, keepBelow: String = "d0"): DataFrame = {
    val winners = docs
      .groupBy("text")
      .agg(min(struct(col("doc_id"), col("lang"), col("source"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.lang").as("lang"),
        col("w.source").as("source"), col("text"))
    val scored = winners
      .withColumn("t", split(col("text"), " "))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("alpha_frac",
        Ops.r4(length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
          / length(col("text"))))
      .withColumn("distinct_frac",
        Ops.r4(size(array_distinct(col("t"))).cast("double") / size(col("t"))))
      .withColumn("len_frac",
        Ops.r4(least(size(col("t")).cast("double") / 64.0, lit(1.0))))
      .withColumn("stop_ratio",
        Ops.r4(expr("size(filter(t, x -> x IN ('the', 'a', 'of', 'and', 'in')))")
          .cast("double") / size(col("t"))))
      // floor(x·1e4 + 0.5)/1e4, NOT round(): the weighted sum of
      // 4-decimal components is a discrete rational that lands on
      // exact half-ties systematically, where Spark's decimal-exact
      // round and DuckDB's fp round disagree (found at sf0.1); the
      // floor formula is plain IEEE ops on the identical double both
      // engines compute, so it cannot diverge.
      .withColumn("quality", floor(
        (col("alpha_frac") * 0.3 + col("distinct_frac") * 0.3 +
          col("len_frac") * 0.2 + least(col("stop_ratio") * 5, lit(1.0)) * 0.2)
          * 1e4 + lit(0.5)) / 1e4)
    scored
      .filter(col("quality") >= minQuality && col("n_tokens") >= minTokens)
      .filter(substring(md5(col("text").cast("binary")), 1, 2) < keepBelow)
      .select("doc_id", "lang", "source", "n_tokens", "quality")
      .orderBy("doc_id")
  }

  def pipelineCurate(spark: SparkSession, dir: String): DataFrame =
    curatePipeline(Tables.load(spark, dir, "documents"))

  /** Weighted-epoch upsampling — the mixture step that repeats
    * high-value domains fractionally (wiki 2.5 epochs, books 1.25, …).
    * Each doc gets `floor(w)` guaranteed copies plus one more iff its
    * content hash falls under the fractional threshold, so a weight of
    * 2.5 yields exactly 2 or 3 copies deterministically per document —
    * reproducible across runs, clusters, and partitionings, unlike
    * `rand()`-based sampling. Thresholds are two-hex-digit md5 prefixes
    * (probability = prefix/256), the same engine-portable idiom as
    * [[sampleHash]]. Copies materialize via `explode(sequence(1, n))` —
    * a narrow generate, no shuffle anywhere; the whole operator is
    * map-side at any scale. */
  def upsampleByWeight(docs: DataFrame,
                       weights: Map[String, (Int, String)],
                       default: (Int, String) = (1, "00")): DataFrame = {
    val (defFloor, defThr) = default
    val floorCol = weights.foldLeft(lit(defFloor)) { case (acc, (lang, (fl, _))) =>
      when(col("lang") === lang, lit(fl)).otherwise(acc)
    }
    val thrCol = weights.foldLeft(lit(defThr)) { case (acc, (lang, (_, thr))) =>
      when(col("lang") === lang, lit(thr)).otherwise(acc)
    }
    docs
      .withColumn("n_copies",
        (floorCol + when(substring(md5(col("text").cast("binary")), 1, 2) < thrCol, 1)
          .otherwise(0)).cast("long"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("lang"), col("n_copies"),
        explode(expr("sequence(1L, n_copies)")).as("copy"))
      .orderBy("doc_id", "copy")
  }

  /** Registered mixture: de ×2.5, es ×3.25, fr ×1.5, zh ×0.75, en ×1. */
  def corpusUpsample(spark: SparkSession, dir: String): DataFrame =
    upsampleByWeight(Tables.load(spark, dir, "documents"),
      Map("de" -> (2, "80"), "es" -> (3, "40"), "fr" -> (1, "80"),
          "zh" -> (0, "c0"), "en" -> (1, "00")))

  /** Deterministic global shuffle — the example-order randomization
    * before training, as a content-keyed sort instead of `rand()`:
    * key = md5(text ‖ seed), so the same corpus shuffles identically
    * on every run and any cluster, and re-shuffling for epoch 2 is
    * just a new seed. At scale the full operator is a range
    * repartition + within-partition sort on the key (Spark's
    * `orderBy` plans exactly that — sampled range boundaries, no
    * single-node sort); the training loader then reads shards in
    * partition order. */
  def shuffleDeterministic(docs: DataFrame, seed: String = "42"): DataFrame =
    docs
      .withColumn("skey", md5(concat(col("text"), lit(":" + seed)).cast("binary")))
      .select("doc_id", "skey")
      .orderBy("skey", "doc_id")

  /** Registered head: first 200 docs of the epoch-42 shuffle order —
    * `orderBy.limit` plans TakeOrderedAndProject, so the query is a
    * top-k scan, not a full sort, while the oracle pins the key
    * computation and order. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    shuffleDeterministic(Tables.load(spark, dir, "documents")).limit(200)

  /** Epoch-schedule materialization — the step that turns per-source
    * repetition weights into the ACTUAL training order: a source with
    * weight w appears in epochs 1..⌊w⌋ in full, plus one more epoch
    * for a deterministic md5-gated w−⌊w⌋ fraction of its documents
    * (fractional repetition — how multi-epoch mixes upweight small
    * high-quality sources without integer-only ratios). Each row
    * carries skey = md5(epoch:doc_id), the per-epoch shuffle key: the
    * same corpus schedules identically on any cluster, and each
    * epoch's order is an independent deterministic permutation.
    *
    * Scale shape: the epoch explode is a narrow Generate (≤⌈w⌉ rows
    * per doc, map-side — no shuffle), the fraction gate is a
    * projection over the 60-bit md5 prefix (the house portability
    * recipe), and the final global sort is the range-partitioned
    * orderBy a training-shard writer would replace with
    * `partitionBy(epoch) + sortWithinPartitions(skey)`. The weight is
    * an arbitrary Column so real deployments pass a weights-table
    * join; the registered query derives it from the source id to stay
    * oracle-replayable. */
  def epochSchedule(docs: DataFrame, weight: Column): DataFrame =
    docs.select(col("doc_id"), col("source"), weight.as("w"))
      .withColumn("epoch",
        explode(sequence(lit(1), ceil(col("w")).cast("int"))))
      .filter(col("epoch") <= floor(col("w")) ||
        conv(substring(md5(concat_ws(":", col("doc_id"), col("source"))
          .cast("binary")), 1, 15), 16, 10).cast("long")
          < (col("w") - floor(col("w"))) * lit(1152921504606846976.0))
      .select(col("epoch"), col("doc_id"), col("source"),
        md5(concat_ws(":", col("epoch"), col("doc_id")).cast("binary")).as("skey"))
      .orderBy("epoch", "skey", "doc_id")

  /** Registered query: weights 1.0/1.5/2.0/2.5 assigned by source-name
    * hash — every fractional-repetition case (integer weight, half
    * fraction) in one schedule, and the rule holds for ANY source
    * naming (a substring-parse of the name broke on the synthetic 1M
    * corpus's source format). */
  def corpusEpochSchedule(spark: SparkSession, dir: String): DataFrame =
    epochSchedule(Tables.load(spark, dir, "documents"),
      lit(1.0) + (conv(substring(md5(col("source").cast("binary")), 1, 15),
        16, 10).cast("long") % 4) * lit(0.5))

  /** Length-bucketed batch assembly — the training-loader step that
    * kills padding waste: batching a 10-token doc with a 1000-token
    * doc pads the short one to the long one's length, so loaders
    * group documents into power-of-two token-length buckets and form
    * fixed-size batches WITHIN a bucket (worst-case pad factor 2×
    * instead of unbounded). bucket = ⌊log₂(n_tokens)⌋ computed as the
    * bit length of the integer count (bin-string length — exact in
    * both engines, where a float log2 can read 2.999…96 at an exact
    * power of two); within a bucket, docs order by the content key
    * (md5(text), doc_id) — the same cluster-invariant rank every
    * sampling operator here uses — and batch_id/pos are integer
    * div/mod of that rank. One bucket-keyed shuffle for the rank
    * window (WindowGroupLimit doesn't apply — every row survives);
    * at lake scale the writer emits `partitionBy(bucket, batch_id)`
    * shards in the same pass. */
  def lengthBucketBatches(docs: DataFrame, batchSize: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sized = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      md5(col("text").cast("binary")).as("h"))
      .withColumn("bucket", (length(bin(col("n_tokens"))) - 1).cast("int"))
    val w = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
    sized.withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("n_tokens"), col("bucket"),
        expr(s"CAST((rn - 1) div $batchSize AS BIGINT)").as("batch_id"),
        expr(s"CAST((rn - 1) % $batchSize AS INT)").as("pos"))
      .orderBy("bucket", "batch_id", "pos")
  }

  def corpusLengthBuckets(spark: SparkSession, dir: String): DataFrame =
    lengthBucketBatches(Tables.load(spark, dir, "documents"))

  /** Shard manifest — the reproducibility/audit artifact of a corpus
    * release: every doc hash-routes to a shard, and each shard row
    * carries its doc count, token count, and an ORDER-INDEPENDENT
    * content checksum (bit_xor of each doc's 60-bit md5(text) prefix
    * — xor commutes, so the checksum is identical however partitions
    * merge, and any single changed/dropped/duplicated document flips
    * it). Two corpus copies on different clusters compare releases by
    * diffing 16 manifest rows instead of re-hashing terabytes; the
    * routing key is md5(doc_id), so a shard's membership is stable
    * under any repartitioning or re-ingest order. One hash-agg pass,
    * map-side partials — the cheapest full-corpus integrity sweep
    * possible. */
  def shardManifest(docs: DataFrame, nShards: Int = 16): DataFrame =
    docs.select(
      (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 15),
        16, 10).cast("long") % nShards).as("shard_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      conv(substring(md5(col("text").cast("binary")), 1, 15), 16, 10)
        .cast("long").as("content_h"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        expr("bit_xor(content_h)").as("checksum"))
      .orderBy("shard_id")

  def corpusShardManifest(spark: SparkSession, dir: String): DataFrame =
    shardManifest(Tables.load(spark, dir, "documents"))

  /** Release diff — the other half of the audit story next to
    * [[shardManifest]]: when two corpus releases' manifests DISAGREE,
    * this reports what moved, as per-(source, status) counts over
    * added / removed / changed / unchanged documents (content compared
    * by md5, membership by doc_id). Scale shape: each release is
    * reduced map-side to (doc_id, source, 32-byte hash) — the text
    * never crosses the wire — then ONE doc_id-keyed full outer join
    * and a counts aggregate with map-side partials. */
  def releaseDiff(cur: DataFrame, prev: DataFrame): DataFrame =
    cur.select(col("doc_id"), col("source").as("src_c"),
      md5(col("text").cast("binary")).as("h_c"))
      .join(prev.select(col("doc_id"), col("source").as("src_p"),
        md5(col("text").cast("binary")).as("h_p")), Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_c"), col("src_p")).as("source"),
        when(col("h_p").isNull, "added")
          .when(col("h_c").isNull, "removed")
          .when(col("h_c") =!= col("h_p"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy("source", "status").agg(count(lit(1)).as("n"))
      .orderBy("source", "status")

  /** Registered query: the previous release is derived deterministically
    * from the current one — every 50th doc missing (→ added), every
    * 30th doc carrying edited text (→ changed), every 70th doc also
    * present under a phantom id (→ removed) — so both engines build
    * the identical fixture and the diff is closed-form checkable. */
  def corpusReleaseDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "text")
    val prev = docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 30 === 0, concat(col("text"), lit(" legacy")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 70 === 0)
        .select((col("doc_id") + lit(20000000L)).as("doc_id"),
          col("source"), col("text")))
    releaseDiff(docs, prev)
  }

  /** PMI collocations — pointwise mutual information over adjacent
    * token pairs: pmi(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) from
    * the bigram stream (duplicates preserved — [[kgramSql]] k=2) and
    * p(·) from the unigram stream. The collocation mining every
    * tokenizer-vocabulary and phrase-detection pass runs; `minCount`
    * cuts the unstable long tail before ranking.
    *
    * Scale shape: two map-side-combining hash aggregates (unigram,
    * bigram counts), two word-keyed equi joins to attach the marginal
    * counts (AQE broadcasts whichever side fits; at corpus scale both
    * are sound shuffle joins on the word key), 1-row count frames
    * cross-joined in (broadcast NL), and a TakeOrderedAndProject
    * top-k. Everything linear in token volume. */
  def pmiCollocations(docs: DataFrame, minCount: Int = 5, k: Int = 20): DataFrame = {
    val t = docs.select(split(col("text"), " ").as("t"))
    val toks = t.select(explode(col("t")).as("tok"))
    // persisted (r17): `uni` is consumed THREE times (the w1 join, the
    // w2 join, and the grand total) and `cbAll` twice (filtered counts
    // + total) — unpersisted, every consumer re-ran its corpus explode
    // pass: 5 corpus passes for 2 aggregates. Both frames are
    // vocab-sized (Heaps' law), and the totals now derive from them
    // (sum of counts ≡ stream count — the unigramSurprisal precedent)
    // instead of re-counting the exploded stream.
    val uni = graft.Caches.persist(
      toks.groupBy("tok").agg(count(lit(1)).as("cu")))
    // coalesce: an empty corpus sums to NULL, not 0
    val nUni = uni.agg(coalesce(sum("cu").cast("long"), lit(0L)).as("nu"))
    val bi = t.filter(size(col("t")) >= 2)
      .select(explode(expr(kgramSql(2))).as("bigram"))
    val cbAll = graft.Caches.persist(
      bi.groupBy("bigram").agg(count(lit(1)).as("cb")))
    val cb = cbAll
      .filter(col("cb") >= minCount)
      .withColumn("w1", split(col("bigram"), " ")(0))
      .withColumn("w2", split(col("bigram"), " ")(1))
    val nBi = cbAll.agg(coalesce(sum("cb").cast("long"), lit(0L)).as("nb"))
    cb
      .join(uni.select(col("tok").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("cu").as("cu2")), Seq("w2"))
      // 1-row total frames: broadcast explicitly like every other
      // corpus-total crossJoin here — AQE would rescue an unhinted plan
      // today, but the hint makes the replicated-side choice load-bearing
      // rather than incidental
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("bigram"), col("cb").as("n_pair"),
        round(log((col("cb").cast("double") / col("nb")) /
          ((col("cu1").cast("double") / col("nu")) *
           (col("cu2").cast("double") / col("nu")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(k)
  }

  def textPmi(spark: SparkSession, dir: String): DataFrame =
    pmiCollocations(Tables.load(spark, dir, "documents"))

  /** Token-length histogram over the corpus — the distribution profile
    * a pipeline prints before/after every curation pass (trim bounds,
    * pack sequence length, and mix ratios are all read off this
    * table). Fixed-width buckets via integer floor-divide: one
    * hash aggregate with map-side partials — the bucket count is
    * ~max_len/width regardless of corpus size, so the reduced side is
    * trivially small at any scale; the 1-row total broadcasts for the
    * percentage column. */
  def corpusHistogram(docs: DataFrame, bucketWidth: Int = 10): DataFrame = {
    val sized = docs.select(
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val total = sized.agg(count(lit(1)).as("n_total"))
    sized
      .groupBy((floor(col("n_tokens") / bucketWidth) * bucketWidth).as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(total))
      .select(col("bucket_lo"), col("n_docs"),
        Ops.r4(col("n_docs").cast("double") / col("n_total") * 100).as("pct"))
      .orderBy("bucket_lo")
  }

  def corpusHistogramQ(spark: SparkSession, dir: String): DataFrame =
    corpusHistogram(Tables.load(spark, dir, "documents"))

  /** Streaming twin of [[corpusHistogram]] — the live quality monitor
    * an ingest pipeline keeps on screen: per-bucket doc counts folded
    * across micro-batches (Complete output; state is one row per
    * bucket, so the stateful footprint is ~max_len/width rows forever,
    * independent of how much stream has flowed). Accepts a streaming
    * OR batch frame — StreamingSpec asserts the two agree on the same
    * docs. The pct column is the reader's division over the tiny
    * result; computing it in-stream would chain a second stateful
    * aggregate for no information. */
  def corpusHistogramStream(docs: DataFrame, bucketWidth: Int = 10): DataFrame =
    docs.select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy((floor(col("n_tokens") / bucketWidth) * bucketWidth).as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))

  /** Contamination REPORT — the audit twin of [[decontaminate]]: for
    * each corpus document that shares any word-3-gram with the eval
    * set, the fraction of its distinct shingles that are contaminated.
    * A pipeline drops on [[decontaminate]]'s verdict but files THIS
    * table with the release notes (how contaminated, not just
    * whether). Same scale shape as decontaminate — the eval shingle
    * set broadcasts when it fits (measured, not assumed) — but as a
    * LEFT OUTER mark join so total and contaminated shingle counts
    * come out of ONE conditional aggregate: the corpus explodes and
    * shuffles exactly once (a totals/hits two-branch formulation
    * would scan and shingle the 100-TB side twice). */
  def overlapReport(docs: DataFrame, evalDocs: DataFrame,
                    budgetBytes: Long = Ops.DefaultBroadcastBudget): DataFrame = {
    // Same ONE codegen'd gram+hash pass as [[decontaminate]] (r16) —
    // value-identical to the interpreted shingleArray → explode →
    // xxhash64 chain it replaces; n_shingles still counts the
    // first-occurrence-distinct grams per document.
    def sh(d: DataFrame): DataFrame = d
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), explode(
        graft.functions.VectorExpressions.shingleHash64(
          col("t"), 3, distinct = true)).as("s"))
    val evalSh = sh(evalDocs).select("s").distinct().withColumn("hit", lit(true))
    Ops.joinBroadcastIfFits(sh(docs), evalSh, "s", budgetBytes, "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
      // clean docs (no contaminated shingle) don't appear — the report
      // is about the contaminated tail, not the whole corpus
      .filter(col("n_overlap") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        Ops.r4(col("n_overlap").cast("double") / col("n_shingles"))
          .as("overlap_frac"))
      .orderBy("doc_id")
  }

  def docOverlapReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    overlapReport(
      docs.filter(pmod(col("doc_id"), lit(100)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(100)) === 0))
  }

  /** Quality-weighted downsample — the CCNet/FineWeb-style mix move:
    * tier every document by its unigram surprisal (both tails are
    * suspect — boilerplate at the low end, rare-token soup at the
    * high end) and hash-sample each tier at its own rate (tails
    * `keepTails`, middle `keepMid`; the defaults keep ~25% of each
    * tail and the whole middle).
    *
    * Scale shape: the surprisal frame reuses [[unigramSurprisal]]'s
    * broadcast-vocabulary single-shuffle plan; the tier bounds are a
    * 1-row percentile aggregate broadcast back; tier assignment and
    * the md5-prefix sample are map-side. Tier thresholds compare the
    * ROUNDED (4 dp) surprisal in both engines, and the sample is
    * content-hash-deterministic like [[sampleHash]] — the same subset
    * survives on any cluster at any partitioning. The md5 prefix is
    * projected BEFORE the doc_id join, so the exchange carries
    * (doc_id, 2-char prefix) — never the document text. */
  def qualityWeightedSample(docs: DataFrame, keepTails: String = "40",
                            keepMid: String = "zz"): DataFrame = {
    // persisted (r17): s feeds BOTH the percentile bounds and the tier
    // join — unpersisted, each consumer re-ran the full surprisal
    // pipeline (token explode + vocab join + per-doc aggregate). The
    // cached frame is two columns per document.
    val s = graft.Caches.persist(
      unigramSurprisal(docs).select(col("doc_id"), col("avg_surprisal")))
    val bounds = s.agg(
      expr("percentile(avg_surprisal, 0.25)").as("p25"),
      expr("percentile(avg_surprisal, 0.75)").as("p75"))
    docs.select(col("doc_id"),
        substring(md5(col("text").cast("binary")), 1, 2).as("h"))
      .join(s, Seq("doc_id"))
      .crossJoin(broadcast(bounds))
      .withColumn("tier",
        when(col("avg_surprisal") <= col("p25"), 1)
          .when(col("avg_surprisal") > col("p75"), 3)
          .otherwise(2))
      .filter(col("h") <
        when(col("tier") === 2, lit(keepMid)).otherwise(lit(keepTails)))
      .select(col("doc_id"), col("tier"), col("avg_surprisal"))
      .orderBy("doc_id")
  }

  def corpusQualitySample(spark: SparkSession, dir: String): DataFrame =
    qualityWeightedSample(Tables.load(spark, dir, "documents"))

  /** Keyed upsert (MERGE semantics on plain frames): updates win over
    * base rows on `key`, inserts pass through — the re-crawl /
    * corrected-batch refresh every lake without a table format does by
    * hand. Shape: union with a source rank + one row_number window
    * keyed by `key` — a single shuffle on the merge key, which an
    * anti-join + union formulation would pay TWICE (once for the anti
    * join, once more because the union's halves arrive with unrelated
    * partitionings). */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key).orderBy(col("_src").desc)
    base.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** Registered query: refresh the corpus with a deterministic
    * corrected batch (every 10th doc re-ingested with a revision
    * marker); row count must equal the base corpus, revised rows carry
    * the marker. */
  def corpusUpsert(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang")
    val updates = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .withColumn("text", concat(col("text"), lit(" [rev2]")))
    upsert(docs, updates, "doc_id")
      .select(col("doc_id"), col("lang"),
        length(col("text")).as("n_chars"),
        col("text").endsWith(" [rev2]").as("revised"))
      .orderBy("doc_id")
  }
}
