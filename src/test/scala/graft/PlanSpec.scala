package graft

import graft.operators.Relational
import org.apache.spark.sql.functions.{broadcast, col, floor, lit, sum, year}

/** Scale guards: assert the PHYSICAL PLAN shapes that make these
  * queries survive a 100× scale-up — pushed filters, pruned scans,
  * broadcast dims, TakeOrderedAndProject for top-k. A regression here
  * is a 100-TB incident even if sf0.01 results stay correct. */
class PlanSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Structural scan count (r16 advice): count relation LEAVES whose
    * file location matches `<table>.parquet` in the optimized logical
    * plan, instead of regex-counting the path in the formatted
    * physical string — the path can appear in Location/PushedFilters/
    * reused-exchange annotations depending on the plan formatter, so
    * the substring count could drift on a formatter change rather
    * than a real plan change. The logical-leaf count is exactly "how
    * many times does the query reference the table". */
  private def scanCount(df: org.apache.spark.sql.DataFrame, table: String): Int =
    df.queryExecution.optimizedPlan.collectLeaves().count {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.exists(_.toString.contains(s"$table.parquet"))
          case _ => false
        }
      case _ => false
    }

  test("PLANS.md covers the whole registry: one DumpPlans pick per registered query") {
    val names = graft.tools.DumpPlans.picks.map(_._1)
    val registered = SparkEntry.queries.keySet
    val missing = (registered -- names).toSeq.sorted
    val extra = (names.toSet -- registered).toSeq.sorted
    val duplicated = names.diff(names.distinct).distinct
    assert(missing.isEmpty && extra.isEmpty && duplicated.isEmpty,
      s"missing: ${missing.mkString(", ")}; not registered: ${extra.mkString(", ")}; " +
        s"duplicated: ${duplicated.mkString(", ")}")
  }

  test("runtime bloom-filter join pruning engages once scan thresholds allow") {
    // Spark's row-level runtime filtering is ON in GraftSession but
    // gated by a 10 GiB application-side scan threshold — invisible at
    // test scale, live at lake scale. This pins that the lever actually
    // fires with our session + extensions: thresholds down, broadcast
    // off (bloom injection targets shuffle joins), a selective dim →
    // fact join must inject might_contain on the fact scan side.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = Relational.tpchQ3Shipping(spark, SparkSpec.sfTiny)
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        "expected a runtime bloom filter on the fact side:\n" + p.take(3000))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("filter_and pushes predicates into the parquet scan") {
    val p = plan(Relational.filterAnd(spark, SparkSpec.sfTiny))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,30.0"), p)
  }

  test("projection prunes the scan to selected columns only") {
    val p = plan(Relational.sortAsc(spark, SparkSpec.sfTiny))
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment"), "scan must not read unprojected columns:\n" + p)
  }

  test("theta join broadcasts the 25-row nation side") {
    val p = plan(Relational.joinTheta(spark, SparkSpec.sfTiny))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pair-family sizes join: measured broadcast, degrading to shuffle past the budget") {
    // jaccardPairs/containmentPairs join the candidate-pair stream to a
    // one-row-per-DOCUMENT sizes frame. That frame grows with the
    // corpus, so the broadcast must be a measured decision
    // (Ops.broadcastIfFits), never a hard hint: within budget → the
    // pair stream never shuffles for the sizes; past it → a plain
    // shuffle join instead of an executor-killing broadcast build.
    import org.apache.spark.sql.functions.{col, length}
    // auto-broadcast OFF so the plans below prove the HINT's decision,
    // not Catalyst's own small-table threshold
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
      val p = plan(graft.operators.Documents.jaccardPairs(docs, 0.6))
      assert(p.contains("BroadcastHashJoin"),
        "sizes frame fits at test scale — expected a broadcast join:\n" + p.take(3000))
      // same join shape with a 1-byte budget: the decision must flip
      val sizes = docs.select(col("doc_id"), length(col("text")).as("n"))
      val pairs = docs.select(col("doc_id").as("d1"))
      val degraded = pairs.join(
        graft.operators.Ops.broadcastIfFits(sizes, budgetBytes = 1L).as("n1"),
        col("d1") === col("n1.doc_id"))
      val dp = plan(degraded)
      assert(!dp.contains("BroadcastHashJoin"),
        "past the budget the sizes join must degrade to a shuffle join:\n" + dp.take(3000))
    } finally {
      spark.conf.set(key, prev)
      graft.Caches.release(spark)
    }
  }

  // the compact executedPlan string truncates scan metadata (incl.
  // PushedFilters) at 100 chars; multi-predicate assertions need the
  // formatted explain, which prints the full pushed list
  private def fplan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("temperature sample rank-prunes map-side via WindowGroupLimit") {
    // the literal max-quota cap must engage WindowGroupLimit so each
    // task keeps ≤ maxQuota rows per language BEFORE the lang exchange
    // — without it, the whole corpus shuffles into |langs| partitions
    val p = plan(graft.operators.Documents.corpusTemperatureSample(spark, SparkSpec.sfTiny))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    graft.Caches.release(spark)
  }

  test("unpivot is a narrow Generate — no hash exchange, scan pruned to the measures") {
    val p = fplan(Relational.groupUnpivot(spark, SparkSpec.sfTiny))
    assert(p.contains("Generate"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"),
      "melt must not shuffle — rows multiply map-side:\n" + p.take(3000))
    assert(!p.contains("l_comment"), "scan must prune to the three measures:\n" + p.take(3000))
  }

  test("tpch_q6 pushes all three predicate bands into the lineitem scan") {
    val p = fplan(Relational.tpchQ6Forecast(spark, SparkSpec.sfTiny))
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p.take(3000))
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      p.contains("LessThanOrEqual(l_discount,0.07)"), p.take(3000))
    assert(p.contains("LessThan(l_quantity,24.0)"), p.take(3000))
  }

  test("tpch_q4's EXISTS plans as a left semi join — no row duplication") {
    val p = plan(Relational.tpchQ4Priority(spark, SparkSpec.sfTiny))
    assert(p.contains("LeftSemi"), p.take(3000))
  }

  test("tpch_q19's OR-of-conjunctions pushes per-side implications to BOTH scans") {
    // the disjunction mixes columns from both sides; Catalyst must
    // extract each side's implied disjunction into its scan and keep
    // the cross-side residual on the join — the shape that turns Q19
    // from a full-fact-scan into a stats-pruned read at lake scale
    val p = fplan(Relational.tpchQ19Brand(spark, SparkSpec.sfTiny))
    assert(p.contains("And(GreaterThanOrEqual(l_quantity,1.0),LessThanOrEqual(l_quantity,21.0))"),
      "lineitem scan must carry the quantity-band disjunction:\n" + p.take(3000))
    assert(p.contains("EqualTo(p_brand,Brand#12)"),
      "part scan must carry the brand/size disjunction:\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("sort_topn plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.sortTopN(spark, SparkSpec.sfTiny))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("flagship entry broadcasts the nation dim") {
    val p = plan(SparkEntry.entry(spark))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("events scan converts ns to timestamp without double-precision loss") {
    val df = Tables.load(spark, SparkSpec.sfTiny, "events")
    assert(df.schema("ts").dataType.typeName === "timestamp")
  }

  test("ngram dedup shuffles on the shingle (inverted index), no self-join") {
    val p = plan(graft.operators.Documents.dedupNgramJaccard(spark, SparkSpec.sfTiny))
    assert(p.contains("Exchange hashpartitioning(s#"), p.take(2000))
    assert(!p.contains("CartesianProduct"), "must never go all-pairs")
  }

  test("simhash band join reads persisted signatures (one simhash computation)") {
    val df = graft.operators.Documents.dedupSimhash(spark, SparkSpec.sfTiny)
    val p = plan(df)
    // Both sides of the band self-join must scan the cached signature
    // frame; the interpreted simhash aggregate (the xxhash64 fold) may
    // appear only inside the single cache-population plan, never in a
    // live Project above the scan.
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    val scans = "InMemoryTableScan".r.findAllIn(p).length
    assert(scans >= 2, s"expected both join sides to read the cache, saw $scans:\n" + p.take(3000))
    Caches.release(spark) // scoped: drops the signature cache AND its registry entry
  }

  test("wide simhash band join reads persisted signatures and plans no cartesian") {
    val df = graft.operators.Documents.dedupSimhashWide(spark, SparkSpec.sfTiny)
    val p = plan(df)
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    val scans = "InMemoryTableScan".r.findAllIn(p).length
    assert(scans >= 2, s"expected both join sides to read the cache, saw $scans:\n" + p.take(3000))
    // the band join is an equi join on the (band, value) struct —
    // a cartesian/BNLJ here would mean the band key fell out of the
    // join condition
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      "band join must stay an equi join:\n" + p.take(3000))
    Caches.release(spark)
  }

  test("brute-force kNN broadcasts the query set, not the corpus") {
    val p = plan(graft.operators.Embeddings.embedKnn(spark, SparkSpec.sfTiny))
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"), p.take(2000))
  }

  test("sessionize reuses one user_id shuffle across both windows and the aggregation") {
    val p = plan(Relational.eventsSessionize(spark, SparkSpec.sfTiny))
    val shuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(shuffles == 1,
      s"lag window, running-sum window and groupBy must share ONE user_id shuffle, saw $shuffles:\n" + p.take(3000))
  }

  test("funnel's three windows and the aggregate share one user_id shuffle") {
    val p = plan(Relational.eventsFunnel(spark, SparkSpec.sfTiny))
    val shuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(shuffles == 1,
      s"stacked same-key windows must not re-shuffle, saw $shuffles:\n" + p.take(3000))
    assert(!p.contains("Join"), "funnel must not join per stage:\n" + p.take(2000))
  }

  test("anti join broadcasts the filtered drop side") {
    val p = plan(Relational.joinAnti(spark, SparkSpec.sfTiny))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p.take(2000))
  }

  test("as-of join plans as union + window, no join node") {
    val p = plan(Relational.joinAsof(spark, SparkSpec.sfTiny))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"),
      "as-of must be the union+window formulation, not a per-probe join:\n" + p.take(3000))
  }

  test("range join is a bucket equi join, never a cartesian theta join") {
    val p = plan(Relational.joinRange(spark, SparkSpec.sfTiny))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band join must plan as an equi join on the time bucket:\n" + p.take(3000))
    assert(p.contains("bucket"), p.take(2000))
  }

  test("capped range join admits map-side via WindowGroupLimit, then the same bucket equi join") {
    // the literal rank cap must engage WindowGroupLimit so each task
    // keeps ≤ cap rows per second BEFORE any exchange — the whole
    // point of the spill guard is bounding what the join stage sees
    val p = plan(Relational.joinRangeCapped(spark, SparkSpec.sfTiny))
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "capped band join must stay an equi join on the time bucket:\n" + p.take(3000))
  }

  test("bitext mining broadcasts queries and candidates — no corpus self-join, no cartesian") {
    val p = plan(graft.operators.Embeddings.bitextMine(
      Tables.load(spark, SparkSpec.sfTiny, "embeddings"),
      org.apache.spark.sql.functions.col("vec_id") < 40))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("BroadcastExchange"), p.take(3000))
    graft.Caches.release(spark)
  }

  test("tpch_q21's EXISTS/NOT EXISTS chain folds into ONE lineitem pass + order window") {
    // r16 rewrite: the semi/anti self-joins became order-level window
    // counts over the per-(order, supplier) aggregate — lineitem must
    // be scanned exactly once and no self-join may reappear.
    val p = plan(Relational.tpchQ21Waiting(spark, SparkSpec.sfTiny))
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      "the one-pass rewrite must not re-grow the semi/anti self-joins:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val scans = scanCount(Relational.tpchQ21Waiting(spark, SparkSpec.sfTiny), "lineitem")
    assert(scans == 1, s"lineitem referenced $scans times, want 1:\n" + p.take(3000))
  }

  test("tpch_q17 broadcasts the filtered part slice into the lineitem scan side") {
    val p = plan(Relational.tpchQ17SmallQty(spark, SparkSpec.sfTiny))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("tpch_q2's correlated min is a per-part window over ONE partsupp pass, no cartesian") {
    // r16 rewrite: min-cost-per-part is a window MIN, not an agg +
    // join-back — partsupp must be scanned exactly once.
    val p = plan(Relational.tpchQ2MinCost(spark, SparkSpec.sfTiny))
    assert(p.contains("BroadcastHashJoin"), p.take(3000)) // part slice + dims
    assert(p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // partsupp is reconstructed from lineitem, so the old agg +
    // join-back scanned lineitem twice; the window form scans it once
    val scans = scanCount(Relational.tpchQ2MinCost(spark, SparkSpec.sfTiny), "lineitem")
    assert(scans == 1, s"lineitem referenced $scans times, want 1:\n" + p.take(3000))
  }

  test("tpch_q9 broadcasts part/nation dims; the partsupp join-back is inlined away") {
    val df = Relational.tpchQ9Profit(spark, SparkSpec.sfTiny)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // r17: ps_cost_cents is a pure function of (l_partkey, l_suppkey),
    // so the partsupp reconstruction (distinct exchange + pair-keyed
    // join of lineitem to itself) must not appear — one lineitem scan
    val scans = scanCount(df, "lineitem")
    assert(scans == 1, s"lineitem referenced $scans times, want 1:\n" + p.take(3000))
  }

  test("tpch_q9 inlined supply cost matches the partsupp join-back formulation") {
    // value identity of the r17 inlining on the tiny corpus: rebuild
    // the OLD shape (join back to the reconstruction) and compare rows
    val li = Tables.load(spark, SparkSpec.sfTiny, "lineitem")
    val part = Tables.load(spark, SparkSpec.sfTiny, "part")
      .filter(col("p_name").like("red%")).select("p_partkey")
    val nation = Tables.load(spark, SparkSpec.sfTiny, "nation")
      .select("n_nationkey", "n_name")
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      (col("ps_cost_cents") / lit(100.0)) * col("l_quantity")
    val old = li
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(Relational.partsupp(spark, SparkSpec.sfTiny),
        col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"))
      .join(Tables.load(spark, SparkSpec.sfTiny, "orders")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, SparkSpec.sfTiny, "supplier")
        .select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"),
        floor(amount * lit(100.0) + lit(0.5)).cast("long").as("amount_cents"))
      .groupBy("nation", "o_year")
      .agg((sum("amount_cents") / lit(100.0)).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
      .collect().toSeq
    val got = Relational.tpchQ9Profit(spark, SparkSpec.sfTiny).collect().toSeq
    assert(got === old)
  }

  test("tpch_q11's scalar threshold joins as a 1-row broadcast, never a cartesian") {
    val p = plan(Relational.tpchQ11Stock(spark, SparkSpec.sfTiny))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("tpch_q20's IN-subquery plans as a left semi join into supplier") {
    val p = plan(Relational.tpchQ20Promotion(spark, SparkSpec.sfTiny))
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("decontaminate broadcasts the eval shingles; corpus never shuffles on the shingle") {
    val p = plan(graft.operators.Documents.docDecontaminate(spark, SparkSpec.sfTiny))
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("Broadcast"), p.take(2000))
    // the eval side's own distinct exchange lives inside its cached
    // subtree (rendered under InMemoryTableScan); everything printed
    // BEFORE that marker is the corpus stream + outer query, and a
    // shingle-keyed exchange there would mean the CORPUS shuffled
    val cut = p.indexOf("InMemoryTableScan")
    val visible = if (cut >= 0) p.take(cut) else p
    val shuffles = "Exchange hashpartitioning\\(s#".r.findAllIn(visible).length
    assert(shuffles === 0,
      s"corpus side must stay map-side before the broadcast semi join, saw $shuffles:\n" + p.take(3000))
  }

  test("overlap report: one corpus pass — broadcast mark join, single doc_id shuffle") {
    val p = plan(graft.operators.Documents.docOverlapReport(spark, SparkSpec.sfTiny))
    assert(p.contains("Broadcast"), p.take(2000))
    // same cut as the decontaminate test: the eval side's exchanges live
    // under its cached subtree; the corpus stream must show no
    // shingle-keyed exchange (map-side until the doc_id aggregate)
    val cut = p.indexOf("InMemoryTableScan")
    val visible = if (cut >= 0) p.take(cut) else p
    assert("Exchange hashpartitioning\\(s#".r.findAllIn(visible).isEmpty,
      "corpus must not shuffle on the shingle:\n" + p.take(3000))
    val docShuffles = "Exchange hashpartitioning\\(doc_id#".r.findAllIn(visible).length
    assert(docShuffles <= 1,
      s"totals+hits must fuse into one doc_id aggregate, saw $docShuffles:\n" + p.take(3000))
  }

  test("exact dedup is a single hash aggregate on text") {
    val p = plan(graft.operators.Documents.dedupExact(spark, SparkSpec.sfTiny))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p.take(2000))
  }

  test("text normalization is a pure projection — no shuffle") {
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
    val p = plan(graft.operators.Documents.normalizeText(docs))
    assert(!p.contains("Exchange"), "redaction must stay map-side:\n" + p.take(2000))
  }

  test("repetition stats never hash-shuffles (mode via codegen hash count)") {
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
    val p = plan(graft.operators.Documents.repetitionStats(docs))
    // rangepartitioning for the final orderBy is fine; a
    // hashpartitioning Exchange would mean the exploded-bigram
    // aggregation shape crept back in
    assert(!p.contains("hashpartitioning"),
      "per-row statistic must not shuffle the corpus:\n" + p.take(2000))
    assert(!p.contains("HashAggregate"), p.take(2000))
  }

  test("chunking is a narrow generate — no shuffle") {
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
    val p = plan(graft.operators.Documents.chunkDocs(docs))
    assert(p.contains("Generate explode"), p.take(2000))
    assert(!p.contains("Exchange"), "row multiplication must not shuffle:\n" + p.take(2000))
  }

  test("IN (subquery) rewrites to a left semi join, no row duplication") {
    val p = plan(Relational.filterInSubquery(spark, SparkSpec.sfTiny))
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("retention broadcasts the per-user cohort table into the activity stream") {
    val p = plan(Relational.eventsRetention(spark, SparkSpec.sfTiny))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("rank-filter top-k plans WindowGroupLimit (partial per-group limit before the shuffle)") {
    // Catalyst rewrites `row_number().over(w) <= k` into
    // WindowGroupLimit: each map task keeps only k rows per group
    // (bounded heap) BEFORE the exchange, so a per-group top-k over
    // 100 TB shuffles k·|groups| rows, not the corpus. Guard it for
    // the ranked family — losing this rewrite (e.g. by aliasing the
    // rank column through a non-deterministic expression) is a silent
    // full-sort regression.
    val rankShapes = Seq(
      "window_rank" -> Relational.windowRank(spark, SparkSpec.sfTiny),
      "text_tokens" -> graft.operators.Documents.textTokens(spark, SparkSpec.sfTiny),
      "corpus_topk_per_lang" -> graft.operators.Documents.corpusTopkPerLang(spark, SparkSpec.sfTiny),
      "corpus_reservoir" -> graft.operators.Documents.corpusReservoir(spark, SparkSpec.sfTiny),
      "events_dedup_window" -> Relational.eventsDedupWindow(spark, SparkSpec.sfTiny))
    rankShapes.foreach { case (name, df) =>
      val p = plan(df)
      assert(p.contains("WindowGroupLimit"),
        s"$name must plan a partial per-group limit:\n" + p.take(2000))
    }
  }

  test("tfidf's TF aggregate and ranking window share ONE doc_id exchange") {
    val df = graft.operators.Documents.textTfidf(spark, SparkSpec.sfTiny)
    val p = plan(df)
    val docShuffles = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length
    assert(docShuffles == 1,
      s"TF agg + window must reuse the single doc_id repartition, saw $docShuffles:\n" + p.take(3000))
    Caches.release(spark) // scoped: drops dfreq AND its registry entry
  }

  test("tpch_q3 plans TakeOrderedAndProject over the aggregate; filters pushed") {
    val p = plan(Relational.tpchQ3Shipping(spark, SparkSpec.sfTiny))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must reach the customer scan:\n" + p.take(3000))
  }

  test("tpch_q10 pushes the returnflag filter and plans top-20 as TakeOrderedAndProject") {
    val p = plan(Relational.tpchQ10Returns(spark, SparkSpec.sfTiny))
    assert(p.contains("EqualTo(l_returnflag,R)"),
      "returnflag filter must reach the lineitem scan:\n" + p.take(2000))
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must never global-sort:\n" + p.take(2000))
  }

  test("attribution interval join is keyed on user_id — never a cartesian/nested-loop") {
    // The time-range predicate must ride as residual on a user_id equi
    // join; a planner that only sees the range bounds would go
    // nested-loop, which is quadratic in events at lake scale.
    val p = plan(Relational.eventsAttribution(spark, SparkSpec.sfTiny))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "range predicate must stay residual on the user_id equi join:\n" + p.take(2000))
  }

  test("matryoshka cascade never shuffles the corpus — queries and survivors broadcast") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, SparkSpec.sfTiny, "embeddings")
      .select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val p = plan(graft.operators.Embeddings.matryoshkaCascade(emb, queries, 32, 50, 10))
    assert(!p.contains("Exchange hashpartitioning(vec_id"),
      "corpus must never shuffle on vec_id — survivors broadcast back:\n" + p.take(3000))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "stage-1 queries and stage-2 survivors both broadcast:\n" + p.take(3000))
  }

  test("ewma's anchor window and decay-sum window share ONE user_id exchange") {
    val p = plan(Relational.eventsEwma(spark, SparkSpec.sfTiny))
    val userShuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userShuffles == 1,
      s"both windows must ride a single user_id repartition, saw $userShuffles:\n" +
        p.take(3000))
  }

  test("tpch_q5 broadcasts the nation and region dims") {
    val p = plan(Relational.tpchQ5Local(spark, SparkSpec.sfTiny))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "nation and region must broadcast:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("connected components truncates lineage every round") {
    import spark.implicits._
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    // driverMaxEdges = 0 forces the distributed star loop — the
    // default would take the driver union-find fast path at 40 edges
    // and there would be no round history to assert about
    val out = graft.operators.Documents.connectedComponents(pairs, driverMaxEdges = 0L)
    // the returned frame must read the LAST round's checkpoint — a
    // scan over a materialized RDD, not a replay of every round's
    // join/aggregate chain (which would grow linearly with rounds and
    // re-execute the whole history on any recomputation)
    val p = plan(out)
    assert(p.contains("Scan ExistingRDD"), p.take(2000))
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      "round history must not be replayed:\n" + p.take(2000))
  }
}
