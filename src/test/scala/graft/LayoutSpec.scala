package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational
import graft.sources.Layout

/** The co-location contract: a join of two same-bucketed tables must
  * plan with NO Exchange on either side — at scale that's the
  * difference between a metadata decision and a full-cluster shuffle. */
class LayoutSpec extends SparkSuite {

  /** sf0.001 tables are broadcast-small, which would mask the bucketing
    * question entirely — pin the planner to sort-merge to test the
    * co-location contract the way a big×big join would exercise it. */
  private def withoutBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("same-bucketed tables equi-join without any shuffle") { withoutBroadcast {
    val lineitem = Tables.load(spark, SparkSpec.sfTiny, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val orders = Tables.load(spark, SparkSpec.sfTiny, "orders")
      .select("o_orderkey", "o_totalprice")
    Layout.writeBucketed(lineitem, "li_bucketed", "l_orderkey", buckets = 8)
    Layout.writeBucketed(orders, "ord_bucketed", "o_orderkey", buckets = 8)

    val joined = Layout.bucketedEquiJoin(spark, "li_bucketed", "ord_bucketed",
      "l_orderkey", "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed join must not shuffle either side:\n" + plan)

    // and it computes the same rows as the plain (shuffling) join
    val expected = lineitem.join(orders,
      lineitem("l_orderkey") === orders("o_orderkey")).count()
    assert(joined.count() === expected)
  } }

  test("bucket-mismatched join still shuffles (the guard is real)") { withoutBroadcast {
    val orders = Tables.load(spark, SparkSpec.sfTiny, "orders")
      .select("o_orderkey", "o_totalprice")
    Layout.writeBucketed(orders, "ord_b5", "o_orderkey", buckets = 5)
    val li = spark.table("li_bucketed")
    val mismatch = li.join(spark.table("ord_b5"),
      li("l_orderkey") === col("o_orderkey"))
    assert(mismatch.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "differing bucket counts cannot co-locate")
  } }

  /** One user_id-bucketed events table serves the whole user_id-window
    * family: the bucketed scan's HashPartitioning(user_id) satisfies
    * every window's (and funnel's final groupBy's) clustered
    * distribution by the subset rule, multi-key windows such as
    * dedup-window's (user_id, event_type, hour) included. Paths keeps
    * one exchange: its post-window path-triple groupBy, not a
    * data-linear shuffle. Only hash exchanges count — a final orderBy's
    * range exchange is in both plans. */
  test("a user_id-bucketed events table plans the window family with no hash exchange") {
    val events = Tables.load(spark, SparkSpec.sfTiny, "events")
    Layout.writeBucketed(events, "events_by_user", "user_id", buckets = 8)
    val bucketed = spark.table("events_by_user")
    def exchanges(df: DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val family: Seq[(String, DataFrame => DataFrame, Int)] = Seq(
      ("sessionize", Relational.sessionizeFrame, 0),
      ("funnel", Relational.eventsFunnelFrame, 0),
      ("ewma", Relational.eventsEwmaFrame, 0),
      ("dedup_window", Relational.eventsDedupWindowFrame, 0),
      ("paths", Relational.eventsPathsFrame, 1))
    family.foreach { case (name, q, expected) =>
      val (plain, onBuckets) = (q(events), q(bucketed))
      val (xPlain, xBucketed) = (exchanges(plain), exchanges(onBuckets))
      assert(xBucketed === expected, s"$name: bucketed plan has $xBucketed hash exchange(s)")
      assert(xPlain > xBucketed, s"$name: plain $xPlain vs bucketed $xBucketed")
      assert(onBuckets.collect().map(_.toString).sorted === plain.collect().map(_.toString).sorted,
        s"$name: bucketed rows differ from plain")
    }
  }

  test("compaction rewrites a many-small-files directory without shuffling") {
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
    val frag = "target/layout-spec/fragmented"
    val compacted = "target/layout-spec/compacted"
    docs.repartition(37).write.mode("overwrite").parquet(frag) // simulate micro-batch litter
    val fragFiles = Option(new java.io.File(frag).listFiles()).get
      .count(_.getName.endsWith(".parquet"))
    assert(fragFiles === 37)
    // generous target so everything fits one file at sfTiny
    val outFiles = Layout.compact(spark, frag, compacted)
    assert(outFiles === 1, s"expected 1 compacted file, got $outFiles")
    // narrow rewrite: the plan must contain no Exchange
    val plan = spark.read.parquet(frag).coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "compaction must not shuffle:\n" + plan)
    // and no row was lost or duplicated
    assert(spark.read.parquet(compacted).count() === docs.count())
  }

  test("compaction preserves a Hive-partitioned layout, sized from a recursive listing") {
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
    val frag = "target/layout-spec/frag_by_lang"
    val compacted = "target/layout-spec/compacted_by_lang"
    // micro-batch litter WITHIN each partition directory
    docs.repartition(9).write.mode("overwrite").partitionBy("lang").parquet(frag)
    def parquetFiles(dir: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
    }
    def langDirs(dir: String): Set[String] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("lang="))
        .map(_.getName).toSet
    val fragCount = parquetFiles(frag).size
    assert(fragCount > langDirs(frag).size, s"fragmentation precondition: $fragCount")
    // the sizing behind compaction, Tables.preload and the crawl seam:
    // a directory-backed table sums every nested part file (a File
    // length would read the directory inode), a single file is its length
    val fragBytes = parquetFiles(frag).map(_.length).sum
    assert(fragBytes > 0 && Layout.parquetBytes(spark, frag) === fragBytes)
    val single = new java.io.File(SparkSpec.sfTiny, "documents.parquet")
    assert(single.isFile && Layout.parquetBytes(spark, single.getPath) === single.length)
    val outCount = Layout.compact(spark, frag, compacted)
    // the partitioned layout SURVIVES the rewrite (pruning is the
    // point of the layout) and each value's litter collapses to one file
    assert(langDirs(compacted) === langDirs(frag),
      s"partition dirs lost: ${langDirs(compacted)}")
    assert(outCount === langDirs(frag).size,
      s"expected one file per partition value, got $outCount")
    assert(parquetFiles(compacted).size === outCount)
    // no row lost or duplicated, partition column included
    assert(spark.read.parquet(compacted).count() === docs.count())
    assert(spark.read.parquet(compacted).filter(col("lang") === "en").count() ===
      docs.filter(col("lang") === "en").count())
  }

  test("zValue interleaves bits: a→even positions, b→odd") {
    import spark.implicits._
    // a = 0b101 → bits at z-positions 0,4 = 0b10001; b = 0b011 → 1,3 = 0b01010
    val z = Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), 3).as("z"))
      .as[Long].head()
    assert(z === 27L, s"expected 0b11011, got ${z.toBinaryString}")
    // order-sensitivity: swapping the args lands bits on the other rail
    val zSwap = Seq((3L, 5L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), 3).as("z")).as[Long].head()
    assert(zSwap === 0b100111, s"got ${zSwap.toBinaryString}")
  }

  test("z-order clustering cuts files touched by a 2-D range predicate") {
    val li = Tables.load(spark, SparkSpec.sfTiny, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val plainDir = "target/layout-spec/li_plain"
    val zDir = "target/layout-spec/li_zorder"
    li.repartition(8).write.mode("overwrite").parquet(plainDir)
    Layout.writeZOrdered(li, zDir, "l_partkey", "l_suppkey", nFiles = 8)
    // quarter-window per dimension, read off the actual distribution
    val Array(pLo, pHi) = li.stat.approxQuantile("l_partkey", Array(0.25, 0.5), 0.01)
    val Array(sLo, sHi) = li.stat.approxQuantile("l_suppkey", Array(0.25, 0.5), 0.01)
    def filesTouched(dir: String): Long =
      spark.read.parquet(dir)
        .filter(col("l_partkey").between(pLo, pHi) && col("l_suppkey").between(sLo, sHi))
        .select(input_file_name()).distinct().count()
    val (plainF, zF) = (filesTouched(plainDir), filesTouched(zDir))
    assert(plainF === 8, s"unclustered layout should scatter matches everywhere, got $plainF")
    assert(zF < plainF, s"z-order must localize the 2-D window: $zF vs $plainF")
    // same rows either way — clustering is layout, not semantics
    assert(spark.read.parquet(zDir).count() === li.count())
  }

  test("partitioned layout prunes directories at planning time, not rows at scan time") {
    val docs = Tables.load(spark, SparkSpec.sfTiny, "documents")
    val dir = "target/layout-spec/docs_by_lang"
    Layout.writePartitioned(docs, dir, "lang")
    val filtered = Layout.readPartitioned(spark, dir).filter(col("lang") === "en")
    val plan = filtered.queryExecution.executedPlan.toString
    def filterList(kind: String): String =
      s"$kind: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    // the predicate must live in PartitionFilters (directory pruning)...
    assert(filterList("PartitionFilters").contains("lang"),
      "lang filter must prune partitions:\n" + plan.take(2000))
    // ...and NOT in DataFilters/PushedFilters (that would mean
    // row-level filtering of data that should never have been opened)
    assert(!filterList("DataFilters").contains("lang") &&
      !filterList("PushedFilters").contains("lang"),
      "partition predicate leaked into data filters:\n" + plan.take(2000))
    val expected = docs.filter(col("lang") === "en").count()
    assert(filtered.count() === expected)
  }
}
