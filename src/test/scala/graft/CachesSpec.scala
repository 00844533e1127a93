package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.functions.col
import graft.operators.{Documents, Embeddings, Ops}

/** The session scope: frames are registered when an operator persists
  * an intermediate and dropped — and ONLY those frames — by a scoped
  * release; memos build each key once and live per release or per
  * session by kind. */
class CachesSpec extends SparkSuite {

  test("operator persists register with Caches and release unpersists them") {
    Caches.release(spark) // start from a clean slate for this session
    assert(Caches.registered(spark) === 0)
    val out = Documents.dedupSimhash(spark, SparkSpec.sfTiny)
    out.count() // materializes the persisted signature frame
    assert(Caches.registered(spark) > 0,
      "dedupSimhash must route its persist through the registry")
    Caches.release(spark)
    assert(Caches.registered(spark) === 0)
    Caches.release(spark) // idempotent
    assert(Caches.registered(spark) === 0)
  }

  test("memoFrame builds once per key and release clears it; the staged sweep rides it") {
    Caches.release(spark)
    var built = 0
    def get() = Caches.memoFrame(spark, ("spec", 1)) {
      built += 1
      spark.range(3).toDF("x")
    }
    assert(get().count() === 3)
    get()
    assert(built === 1, "second call must reuse the memoized frame")
    Caches.release(spark)
    get()
    assert(built === 2, "release must clear the frame memo")
    // the consumer that motivated it: a repeated STAGED pair pass must
    // not re-run its waves or register fresh persisted frames — the
    // output-plan semantic hash can never dedup a localCheckpoint
    // lineage, so the input-keyed memo is the only thing between a
    // long-lived session and unbounded re-execution
    Caches.release(spark)
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
    Documents.jaccardPairs(docs, 0.6, waves = Some(2)).count()
    val n1 = Caches.registered(spark)
    Documents.jaccardPairs(docs, 0.6, waves = Some(2)).count()
    assert(Caches.registered(spark) === n1,
      "a repeated staged pass must not register new frames")
    Caches.release(spark)
  }

  test("decideOnce memoizes per (plan, budget) and release clears the memo") {
    Caches.release(spark)
    var measured = 0
    def decide() = Caches.decideOnce(spark, planKey = 42, budget = 100L) {
      measured += 1; true
    }
    assert(decide() === true)
    assert(decide() === true)
    assert(measured === 1, "second call must reuse the memoized decision")
    // a different budget is a different question — re-measure
    Caches.decideOnce(spark, planKey = 42, budget = 7L) { measured += 1; false }
    assert(measured === 2)
    // release drops the memo with the persists: a fresh pipeline must
    // re-measure against the data as it is then (growing corpora)
    Caches.release(spark)
    assert(decide() === true)
    assert(measured === 3, "release must clear the decision memo")
  }

  test("release is scoped: caller-owned caches survive") {
    val owned = Tables.load(spark, SparkSpec.sfTiny, "nation").cache()
    owned.count()
    Documents.dedupSimhash(spark, SparkSpec.sfTiny).count()
    Caches.release(spark)
    // the caller's cache is still registered with the cache manager
    assert(owned.storageLevel.useMemory,
      "scoped release must not evict caches it did not create")
    owned.unpersist()
  }

  test("scope lifetimes: release rebuilds per-release memos, session memos survive it") {
    Caches.release(spark)
    var frames = 0
    var decisions = 0
    def frame() = Caches.memoFrame(spark, ("spec-lifetime", 1)) {
      frames += 1; spark.range(1).toDF("x")
    }
    def decide() = Caches.decideOnce(spark, planKey = 7, budget = 1L) { decisions += 1; true }
    frame(); decide(); frame(); decide()
    assert((frames, decisions) === ((1, 1)))
    Caches.release(spark)
    frame(); decide()
    assert((frames, decisions) === ((2, 2)), "release must drop both per-release memos")
    // the PQ codebooks are a session memo: a release between two probes
    // of the same corpus must not refit them
    val emb = Tables.load(spark, SparkSpec.sfTiny, "embeddings").select("vec_id", "embedding")
    Embeddings.annPq(emb, col("vec_id") < 3, k = 5).count()
    val fits = Embeddings.pqFitCount.get()
    Caches.release(spark)
    Embeddings.annPq(emb, col("vec_id") < 3, k = 5).count()
    assert(Embeddings.pqFitCount.get() === fits, "a session memo must survive release")
    Caches.release(spark)
  }

  test("a memo build may memoize another key of the same session; each builds once") {
    Caches.release(spark)
    var outer = 0
    var inner = 0
    def get() = Caches.memoFrame(spark, ("spec-outer", 1)) {
      outer += 1
      val fits = Caches.decideOnce(spark, planKey = 11, budget = 2L) { inner += 1; true }
      Caches.memoFrame(spark, ("spec-inner", 1)) {
        inner += 1; spark.range(if (fits) 2 else 0).toDF("x")
      }
    }
    assert(get().count() === 2)
    assert(get().count() === 2)
    assert((outer, inner) === ((1, 2)))
    Caches.release(spark)
  }

  test("concurrent callers of one key share one build") {
    Caches.release(spark)
    val builds = new AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 4).map { _ =>
      val t = new Thread(() => {
        start.await()
        Caches.memoFrame(spark, ("spec-race", 1)) {
          builds.incrementAndGet()
          Thread.sleep(200)
          spark.range(1).toDF("x")
        }
        ()
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(builds.get() === 1, "racing callers must wait for the one build")
    Caches.release(spark)
  }

  test("broadcastIfFits fills its small side in one job; both branches follow the measured size") {
    Caches.release(spark)
    val small = spark.range(0, 2000, 1, 4).selectExpr("id", "id * 3 AS v")
    val big = spark.range(0, 20000, 1, 4).toDF("id")
    def joinPlan(budget: Long): String =
      big.join(Ops.broadcastIfFits(small, budget), "id").queryExecution.executedPlan.toString
    // auto-broadcast off: a BroadcastHashJoin below can only come from
    // the helper's hint
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      // count() ran three jobs here: AQE's cache-fill stage, then the
      // partial and the final count
      val jobs = new AtomicInteger()
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(counter)
      try { Ops.broadcastIfFits(small, Long.MaxValue); ListenerBusDrain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(counter)
      assert(jobs.get() === 1, s"one broadcastIfFits call ran ${jobs.get()} jobs")
      val rel = spark.sharedState.cacheManager
        .lookupCachedData(ClassicConversions.castToImpl(small)).map(_.cachedRepresentation)
      assert(rel.exists(_.cacheBuilder.isCachedColumnBuffersLoaded), "small side is not filled")
      val measured = rel.get.cacheBuilder.sizeInBytesStats.value.longValue
      assert(measured > 0)
      assert(joinPlan(measured + 1).contains("BroadcastHashJoin"),
        s"a budget above the measured $measured bytes must broadcast")
      assert(!joinPlan(measured).contains("BroadcastHashJoin"),
        s"a budget at the measured $measured bytes must not broadcast")
    } finally {
      spark.conf.set(key, prev)
      Caches.release(spark)
    }
  }
}
