package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.sql.Timestamp

/** Schema-drift canary for the environment-owned events table.
  *
  * Round 6 lost eight green queries silently when the testdata
  * regenerated `events.ts` from TIMESTAMP(NANOS) to timestamp[us].
  * These tests pin BOTH halves of the defense:
  *
  *  1. every physical layout `Tables.normalizeTs` claims to support is
  *     exercised via a round-tripped fixture (Spark-written parquet:
  *     a raw-long file for the nanosAsLong path, a TIMESTAMP_NTZ file
  *     for timestamp[us] isAdjustedToUTC=false, a TIMESTAMP_LTZ file
  *     for isAdjustedToUTC=true), all landing on the same instant;
  *  2. the file the environment ACTUALLY shipped this round loads and
  *     lands on TimestampType — so a future drift to a type outside the
  *     supported set fails here with a named message instead of killing
  *     eight queries downstream.
  */
class TablesSpec extends SparkSuite {
  import SparkSpec.{sfSmall, sfTiny}

  // 2024-03-01T12:34:56.789012 UTC, expressed three ways.
  private val micros = 1709296496789012L
  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-ts-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def normalized(path: String): org.apache.spark.sql.DataFrame =
    Tables.normalizeTs(spark.read.parquet(path))

  test("normalizeTs: int64-nanos fixture → timestamp, ns truncated to µs") {
    // nanosAsLong reads TIMESTAMP(NANOS) as plain LongType; a raw-long
    // parquet column arrives identically, so it exercises the same branch.
    val dir = tmpDir("ns")
    import spark.implicits._
    Seq(micros * 1000L + 999L).toDF("ts").write.mode("overwrite").parquet(dir)
    val out = normalized(dir)
    assert(out.schema("ts").dataType == TimestampType)
    // +999 ns truncates away; value is exactly the µs instant
    assert(out.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("normalizeTs: timestamp[us] NTZ fixture → session-TZ timestamp, value-preserving") {
    val dir = tmpDir("ntz")
    val row = java.time.LocalDateTime.ofEpochSecond(
      micros / 1000000L, ((micros % 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(row)),
      StructType(Seq(StructField("ts", TimestampNTZType))))
    df.write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).schema("ts").dataType == TimestampNTZType,
      "fixture must round-trip as NTZ or this test exercises the wrong branch")
    val out = normalized(dir)
    assert(out.schema("ts").dataType == TimestampType)
    import spark.implicits._
    assert(out.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("normalizeTs: timestamp LTZ fixture passes through unchanged") {
    val dir = tmpDir("ltz")
    import spark.implicits._
    Seq(new Timestamp(micros / 1000L)).toDF("ts")
      .withColumn("ts", timestamp_micros(lit(micros)))
      .write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).schema("ts").dataType == TimestampType)
    val out = normalized(dir)
    assert(out.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("normalizeTs: unsupported ts type fails loudly with a named message") {
    import spark.implicits._
    val bad = Seq("2024-01-01").toDF("ts") // StringType — outside the set
    val e = intercept[IllegalStateException](Tables.normalizeTs(bad))
    assert(e.getMessage.contains("normalizeTs"))
    assert(e.getMessage.contains("StringType"))
  }

  test("canary: the shipped events.parquet loads through the supported branch") {
    val ev = Tables.load(spark, sfTiny, "events")
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts normalized to ${ev.schema("ts").dataType}, expected TimestampType")
    assert(ev.limit(1).count() == 1, "events must be readable and non-empty")
    // all three instants agree across engines only if ts stays µs-exact;
    // spot-check the min is in a sane epoch range (1990..2100)
    import spark.implicits._
    val minMicros = ev.select(min(unix_micros(col("ts")))).as[Long].head()
    assert(minMicros > 631152000000000L && minMicros < 4102444800000000L,
      s"events.ts min $minMicros µs is outside 1990..2100 — wrong unit interpretation?")
  }

  test("canary: every catalog table loads with the LOGICAL schema the queries assume") {
    // The round-6 incident was a PHYSICAL type drifting under one
    // column; this pins the whole surface. Logical expectations only —
    // the loader is allowed to normalize physical encodings (that's
    // its job), but a missing/renamed/retyped column must fail HERE
    // with the table named, not as 20 query errors downstream.
    import org.apache.spark.sql.types._
    // raw tables keep whatever timestamp flavor the file declares (the
    // driver has shipped both NTZ and LTZ); only events goes through
    // normalizeTs and must land on session-TZ TimestampType exactly
    def anyTs(t: DataType): Boolean = t == TimestampType || t == TimestampNTZType
    val expected: Map[String, Map[String, DataType]] = Map(
      "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType),
      "part" -> Map("p_partkey" -> LongType),
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
        "l_returnflag" -> StringType, "l_shipdate" -> TimestampType),
      "events" -> Map("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Map("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
    val drifted = expected.toSeq.flatMap { case (table, cols) =>
      val schema = Tables.load(spark, sfTiny, table).schema
      cols.toSeq.collect {
        case (c, t) if !schema.exists(f => f.name == c &&
            (f.dataType == t ||
              (t == TimestampType && table != "events" && anyTs(f.dataType)))) =>
          val actual = schema.find(_.name == c).map(_.dataType).getOrElse("ABSENT")
          s"$table.$c: expected $t, got $actual"
      }
    }
    assert(drifted.isEmpty, "schema drift:\n" + drifted.mkString("\n"))
  }

  // ---- preload / clearPreload ----

  private val preloaded = Tables.all.filterNot(Set("documents", "embeddings"))

  /** The cache entry the session's cache manager holds for `df`'s plan. */
  private def cached(df: DataFrame): Option[InMemoryRelation] =
    spark.sharedState.cacheManager.lookupCachedData(ClassicConversions.castToImpl(df))
      .map(_.cachedRepresentation)

  /** Row count and an order-free checksum over every column. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val h = hash(df.columns.map(col).toIndexedSeq: _*).cast("long")
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), r.getLong(1))
  }

  test("preload: sf0.1 caches every non-excepted table, spread by size, rows as on disk") {
    Tables.clearPreload(spark)
    val sf01 = new java.io.File(sfTiny).getParent + "/sf0.1"
    val onDisk = preloaded.map(n => n -> fingerprint(Tables.load(spark, sf01, n))).toMap
    Tables.preload(spark, sf01)
    try {
      val width = spark.sparkContext.defaultParallelism
      for (n <- preloaded) {
        val df = Tables.load(spark, sf01, n)
        val rel = cached(df)
        assert(rel.isDefined, s"$n is not cached")
        assert(rel.get.cacheBuilder.isCachedColumnBuffersLoaded, s"$n cache is not filled")
        val parts = rel.get.cacheBuilder.cachedColumnBuffers.getNumPartitions
        val expected = if (Set("lineitem", "orders", "events")(n)) width else 1
        assert(parts == expected, s"$n cached as $parts partitions, expected $expected")
        assert(fingerprint(df) == onDisk(n), s"$n rows differ from a plain read")
      }
      for (n <- Seq("documents", "embeddings"))
        assert(cached(Tables.load(spark, sf01, n)).isEmpty, s"$n must stay uncached")
    } finally Tables.clearPreload(spark)
  }

  test("preload: at most 2 jobs per table (schema read + one cache fill)") {
    Tables.clearPreload(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      Tables.preload(spark, sfSmall)
      ListenerBusDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      Tables.clearPreload(spark)
    }
    info(s"${jobs.get()} jobs for ${preloaded.size} tables")
    assert(jobs.get() <= 2 * preloaded.size,
      s"preload ran ${jobs.get()} jobs for ${preloaded.size} tables")
  }

  test("preload: missing tables are skipped, the present ones still load") {
    Tables.clearPreload(spark)
    val dir = tmpDir("partial")
    for (n <- Seq("customer", "events"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfTiny/$n.parquet"),
        java.nio.file.Paths.get(s"$dir/$n.parquet"))
    try {
      Tables.preload(spark, dir)
      for (n <- Seq("customer", "events"))
        assert(cached(Tables.load(spark, dir, n)).isDefined, s"$n is not cached")
      for (n <- preloaded.filterNot(Set("customer", "events")))
        intercept[org.apache.spark.sql.AnalysisException](Tables.load(spark, dir, n))
    } finally Tables.clearPreload(spark)
  }

  test("clearPreload: unpersists the tables, so a load reads the files again") {
    Tables.clearPreload(spark)
    Tables.preload(spark, sfTiny)
    val frames = preloaded.map(n => Tables.load(spark, sfTiny, n))
    assert(frames.forall(cached(_).isDefined))
    Tables.clearPreload(spark)
    for ((n, df) <- preloaded.zip(frames)) {
      assert(cached(df).isEmpty, s"$n is still in the cache manager")
      val plan = Tables.load(spark, sfTiny, n).queryExecution.executedPlan
      assert(plan.collectFirst { case s: FileSourceScanExec => s }.isDefined,
        s"$n does not plan a file scan:\n$plan")
    }
  }
}
