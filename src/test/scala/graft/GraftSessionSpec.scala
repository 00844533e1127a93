package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{col, lit}

class GraftSessionSpec extends SparkSuite {

  /** perfbench's `sql_sf001` query set: the reference's SQL surface and
    * TPC-H over the sf0.01 tables. */
  private val sqlSf001 = Seq("q1_join_avg", "q2_filter_sort", "q3_subquery_desc",
    "join_equi", "join_theta", "sort_asc", "sort_topn", "tpch_q1_pricing",
    "tpch_q3_shipping", "tpch_q5_local", "tpch_q9_profit", "tpch_q18_big_orders")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled (codegen cache misses) over one pass of the set. */
  private def pass(): Long = {
    val c0 = compiles
    sqlSf001.foreach { n =>
      try Bench.runOnce(spark, SparkSpec.sfSmall, n) finally Caches.release(spark)
    }
    compiles - c0
  }

  test("only local and local[...] masters share the driver's JVM") {
    assert(Seq("local", "local[4]", "local[*]", "local[4,2]").forall(GraftSession.sharesDriverJvm))
    assert(!Seq("local-cluster[2,1,1024]", "yarn", "spark://h:7077", "k8s://h")
      .exists(GraftSession.sharesDriverJvm))
  }

  test("a local-mode task runs under the class loader the driver compiles under") {
    val driver = System.identityHashCode(Thread.currentThread.getContextClassLoader)
    val tasks = spark.range(0, 8, 1, 4)
      .map(_ => System.identityHashCode(Thread.currentThread.getContextClassLoader))(Encoders.scalaInt)
      .distinct().collect().toSeq
    assert(tasks == Seq(driver))
  }

  test("code new to the JVM compiles each whole-stage class once") {
    // a literal no other query uses makes every generated source new
    val df = spark.range(0, 1000, 1, 4).filter(col("id") % 977 === lit(-424242L))
    val c0 = compiles
    df.write.format("noop").mode("overwrite").save()
    val compiled = compiles - c0
    val stages = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan.collect { case w: WholeStageCodegenExec => w }
      case p => p.collect { case w: WholeStageCodegenExec => w }
    }
    assert(stages.nonEmpty, "precondition: the plan has a whole-stage class")
    assert(compiled == stages.size, s"compiled $compiled classes for ${stages.size} whole-stage classes")
  }

  test("the class cache holds more classes than Spark's default capacity of 100") {
    // each literal makes one whole-stage class that no other query has
    val queries = (1 to 200).map(i => spark.range(1).filter(col("id") === lit(-7100000L - i)))
    def run(): Long = {
      val c0 = compiles
      queries.foreach(_.write.format("noop").mode("overwrite").save())
      compiles - c0
    }
    assert(run() == queries.size, "precondition: one new class per query")
    assert(run() == 0)
  }

  test("generated code is reused: a second pass of the sql_sf001 queries compiles no class") {
    val first = pass()
    val second = pass()
    // stage ids in class names, or tasks under a loader other than the
    // driver's, make the second pass compile again
    assert(first > 0, "precondition: the first pass compiled nothing")
    assert(second == 0, s"second pass compiled $second classes (the first compiled $first)")
  }
}
