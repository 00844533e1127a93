package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** The one owner of session-keyed state: each live session has one
  * `Scope` holding the blocks operators persisted, the checkpoint
  * RDDs they registered, and every memo keyed by that session.
  *
  * Several operators persist() a small intermediate (sign sketches,
  * simhash signatures, candidate pair lists) because the frame is read
  * from both sides of a self-join and an Exchange alone is not a
  * reliable materialization boundary. A lazy DataFrame can't unpersist
  * itself after "its" action — the operator returns before anything
  * runs — so without a registry those blocks accumulate for the life
  * of the session (the old workaround was a blanket
  * `cacheManager.clearCache()`, which also evicts caches the caller
  * owns, e.g. the bench's preloaded tables). Operators route persists
  * through [[persist]]; a long-lived session calls [[release]] between
  * pipelines to drop exactly the blocks this module created and nothing
  * else.
  *
  * Two lifetimes:
  *  - per release: persisted frames, checkpoint RDDs and the memos of a
  *    `perRelease` [[Kind]] ([[memoFrame]], [[decideOnce]]) are dropped
  *    by [[release]], so a fresh pipeline re-measures and rebuilds
  *    against the data as it is then;
  *  - per session: the other kinds ([[Tables.preload]]'s frames and the
  *    learned embedding indexes: k-means quantizers, PQ codebooks, PCA
  *    fits, posting tables) live until the session stops. Data
  *    rewritten under an identical plan needs a new session or an
  *    explicit [[forget]] of the kind.
  *
  * One build rule: a memo builds each key at most once, OUTSIDE the map
  * lock (builds launch Spark jobs). Each key gets a holder whose lazy
  * value runs the build; callers of the same key wait for that one
  * build, and a build may memoize other keys of the same session. A
  * build that throws is not memoized — the next caller builds again.
  *
  * One sweep: every call that reaches a scope first drops the scopes of
  * stopped sessions, so a dead session's registrations (and the session
  * object itself) never pin memory. */
object Caches {
  /** A memo kind. Memos of a `perRelease` kind are dropped by
    * [[release]]; the others live until the session stops. */
  private[graft] final class Kind(name: String, val perRelease: Boolean = false) {
    override def toString: String = name
  }

  private val Frame = new Kind("frame", perRelease = true)
  private val Decision = new Kind("decision", perRelease = true)

  /** Builds its value at most once, on first read. */
  private final class Memo(private var build: () => Any) {
    @volatile private var done = false
    lazy val value: Any = { val v = build(); build = null; done = true; v }
    def built: Option[Any] = if (done) Some(value) else None
  }

  private final class Scope {
    val persisted = new ConcurrentHashMap[Int, DataFrame]()
    val rdds = new ConcurrentLinkedQueue[RDD[_]]()
    val memos = new ConcurrentHashMap[(Kind, Any), Memo]()

    /** Drop the memos whose kind matches; returns the built values. */
    def drop(kind: Kind => Boolean): Seq[Any] = {
      val out = Seq.newBuilder[Any]
      val it = memos.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (kind(e.getKey._1)) { it.remove(); e.getValue.built.foreach(out += _) }
      }
      out.result()
    }
  }

  private val scopes = new ConcurrentHashMap[SparkSession, Scope]()

  private def scope(spark: SparkSession): Scope = {
    val it = scopes.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
    scopes.computeIfAbsent(spark, _ => new Scope)
  }

  /** persist() + register for later [[release]]. Returns `df`. A frame
    * whose analyzed plan is semantically identical to one already
    * registered for this session is NOT persisted again — the cache
    * manager would resolve it to the existing InMemoryRelation anyway. */
  def persist(df: DataFrame): DataFrame = {
    scope(df.sparkSession).persisted.computeIfAbsent(
      df.queryExecution.analyzed.semanticHash(),
      _ => { df.persist(); df })
    df
  }

  /** Fill `df`'s cache (already persisted) with one job and return it:
    * a no-op per partition still computes, and so stores, every cached
    * block, and with no exchange above the InMemoryTableScan AQE leaves
    * the plan alone. `count()` took three: AQE wraps the scan in a
    * TableCacheQueryStage (the fill), then runs the partial and the
    * final count as jobs of their own. A cached plan that holds an
    * exchange (a spread table's round-robin) still gets its scan
    * staged: the shuffle, the fill and the no-op pass are three jobs
    * there. */
  def fill(df: DataFrame): DataFrame = {
    df.foreachPartition((_: Iterator[Row]) => ())
    df
  }

  /** Register a directly-persisted RDD (e.g. a `localCheckpoint`'s
    * backing RDD) for release. DataFrame.unpersist only reaches the
    * cache manager, so checkpoint blocks need their own ledger. */
  def registerRdd(spark: SparkSession, rdd: RDD[_]): Unit =
    scope(spark).rdds.add(rdd)

  /** The memo of `key` under `kind` for `spark`, built by `build` on
    * first use (see the build rule above). */
  private[graft] def memo[T](spark: SparkSession, kind: Kind, key: Any)(build: => T): T =
    scope(spark).memos.computeIfAbsent((kind, key), _ => new Memo(() => build))
      .value.asInstanceOf[T]

  /** The memo of `key` under `kind` if it is already built; never
    * builds and never waits for a build in flight. */
  private[graft] def built[T](spark: SparkSession, kind: Kind, key: Any): Option[T] = {
    val s = scopes.get(spark)
    val m = if (s == null) null else s.memos.get((kind, key))
    if (m == null) None else m.built.map(_.asInstanceOf[T])
  }

  /** Drop every memo of `kind` for `spark`; returns the built values
    * (for kinds whose values own something outside the JVM). */
  private[graft] def forget(spark: SparkSession, kind: Kind): Seq[Any] =
    scope(spark).drop(_ eq kind)

  /** Memoize an EAGERLY-BUILT frame by an input-derived key. The
    * semantic-hash dedup in [[persist]] keys on the OUTPUT plan, which
    * is useless for operators that materialize during construction
    * (localCheckpoint lineages contain fresh LogicalRDDs, so every
    * build hashes differently): without this, each invocation of the
    * staged pair sweep would re-run all its waves and strand another
    * persisted frame. Key on what went IN (source plan + the knobs). */
  def memoFrame(spark: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    memo(spark, Frame, key)(build)

  /** Drop ONLY the [[memoFrame]] entries for `spark` (bench hook). The
    * persisted inputs, the checkpoint-RDD ledger and the decisions
    * stay, so the next identical build re-pays exactly the memoized
    * pass (e.g. connected components) against the still-standing
    * inputs — the shared-floor contract graft.Bench charges its pair
    * family under. Superseded checkpoint blocks are released with the
    * family's normal [[release]]. */
  def clearMemoFrames(spark: SparkSession): Unit = forget(spark, Frame)

  /** Memoize a measured boolean decision (e.g. "does this frame fit
    * the broadcast budget") per (analyzed-plan semantic hash, budget):
    * a plan measured once is not re-measured on every rebuild of the
    * same query (graft.Bench's repeat runs were paying one measuring job
    * per plan construction), while [[release]] keeps the
    * measured-broadcast doctrine honest for growing corpora. */
  def decideOnce(spark: SparkSession, planKey: Int, budget: Long)(
      measure: => Boolean): Boolean =
    memo(spark, Decision, (planKey, budget))(measure)

  /** Unpersist every frame and RDD registered for `spark` and drop its
    * per-release memos (blocking=false: the executors drop blocks
    * asynchronously; subsequent queries just recompute — except
    * checkpoint RDDs, whose consumers must re-run the producing
    * operator). Safe to call when nothing is registered. */
  def release(spark: SparkSession): Unit = {
    val s = scope(spark)
    val frames = s.persisted.values().iterator()
    while (frames.hasNext) { val df = frames.next(); frames.remove(); df.unpersist() }
    var rdd = s.rdds.poll()
    while (rdd != null) { rdd.unpersist(blocking = false); rdd = s.rdds.poll() }
    s.drop(_.perRelease)
  }

  /** Number of live registrations for `spark` (spec hook). */
  def registered(spark: SparkSession): Int = {
    val s = scopes.get(spark)
    if (s == null) 0 else s.persisted.size() + s.rdds.size()
  }
}
