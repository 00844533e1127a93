package graft

import org.apache.spark.metrics.source.CodegenMetrics

class GraftSessionSpec extends SparkSuite {

  /** perfbench's `sql_sf001` query set: the reference's SQL surface and
    * TPC-H over the sf0.01 tables. */
  private val sqlSf001 = Seq("q1_join_avg", "q2_filter_sort", "q3_subquery_desc",
    "join_equi", "join_theta", "sort_asc", "sort_topn", "tpch_q1_pricing",
    "tpch_q3_shipping", "tpch_q5_local", "tpch_q9_profit", "tpch_q18_big_orders")

  /** Classes compiled (codegen cache misses) over one pass of the set. */
  private def pass(): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sqlSf001.foreach { n =>
      try Bench.runOnce(spark, SparkSpec.sfSmall, n) finally Caches.release(spark)
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("generated code is reused: a second pass of the sql_sf001 queries compiles at most 5% of the first") {
    val first = pass()
    val second = pass()
    // Spark's default cache (100 entries) is smaller than one pass's
    // working set, so without the session's capacity the second pass
    // recompiles most of the first
    assert(first > 100, s"precondition: the first pass compiled only $first classes")
    assert(second <= first * 0.05, s"second pass compiled $second of the first pass's $first")
  }
}
