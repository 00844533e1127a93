package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, floor, lit}

/** Shared join-shape decisions. */
object Ops {

  /** Engine-exact 4-decimal rounding: floor(x·1e4 + 0.5)/1e4 — plain
    * IEEE double ops both Spark and DuckDB compute bit-identically.
    * `round(x, 4)` is NOT that: Spark rounds the decimal expansion
    * half-up while DuckDB rounds the double, and discrete rationals
    * k/n land on exact .5 ties systematically (any n dividing 2·10⁴),
    * where the two disagree — found live at sf0.1 in qualityScore.
    * Every oracle-matched ratio column uses this, with the literal
    * floor(x*10000 + 0.5)/10000 mirrored in the oracle SQL. */
  def r4(c: Column): Column = floor(c * 1e4 + lit(0.5)) / 1e4

  /** "Fits on every executor" budget — same order as Spark's
    * autoBroadcastJoinThreshold ceiling. */
  val DefaultBroadcastBudget: Long = 64L * 1024 * 1024

  /** Join `big` with `small` on `key` (equi, or `joinType` semi/anti),
    * broadcasting the small side iff its MEASURED size fits
    * `budgetBytes` — the vocabulary/cohort-table decision shared by
    * tfidfTop, unigramSurprisal, eventsRetention, dedupIncremental and
    * decontaminate. The small side is persisted through
    * [[graft.Caches]] and materialized, and the decision reads the
    * InMemoryRelation's ACTUAL cached byte size — not a per-call
    * bytes-per-row guess (the estimate that drifted from reality is
    * exactly the failure mode this helper exists to avoid). AQE does
    * not reliably convert these joins on its own — a 5k-row unigram
    * table was measured sort-merge-joining 160M token rows — and an
    * UNCONDITIONAL broadcast hint is the opposite failure (an unbounded
    * build side OOMs the driver at scale), so the operator decides from
    * the measurement and degrades to a shuffle join.
    *
    * RELEASE OBLIGATION: the persisted small side lives until
    * [[graft.Caches.release]] — a long-lived session interleaving many
    * corpora should release between pipelines (Verify/Bench/tools do;
    * library callers own the same contract). */
  def joinBroadcastIfFits(big: DataFrame, small: DataFrame, key: String,
                          budgetBytes: Long = DefaultBroadcastBudget,
                          joinType: String = "inner"): DataFrame =
    big.join(broadcastIfFits(small, budgetBytes), Seq(key), joinType)

  /** The measured-broadcast decision as a standalone frame transform,
    * for callers that join the same small side more than once (the
    * jaccard/containment pair family joins per-doc sizes twice, as d1
    * and d2) or join on mismatched column names `Seq(key)` can't
    * express. Persist + materialize ONCE, read the InMemoryRelation's
    * actual byte size, and return the cached frame with a broadcast
    * hint iff it fits — aliases/renames stacked on top keep the hint
    * (ResolveHints applies it to the subtree). Same release obligation
    * as [[joinBroadcastIfFits]]. */
  def broadcastIfFits(small: DataFrame,
                      budgetBytes: Long = DefaultBroadcastBudget): DataFrame = {
    val cached = graft.Caches.persist(small)
    // decision memoized per (plan, budget) for the life of the persist
    // registry: rebuilding the same query must not re-pay the fill
    // job; Caches.release clears both, so fresh pipelines re-measure
    val fits = graft.Caches.decideOnce(cached.sparkSession,
      cached.queryExecution.analyzed.semanticHash(), budgetBytes) {
      graft.Caches.fill(cached) // materialize so the stats below are measured, not estimated
      // fresh Dataset over the same plan → its optimizer pass resolves the
      // now-populated cache, so stats are the InMemoryRelation's real size
      cached.select("*").queryExecution.optimizedPlan.stats.sizeInBytes < budgetBytes
    }
    if (fits) broadcast(cached) else cached
  }
}
