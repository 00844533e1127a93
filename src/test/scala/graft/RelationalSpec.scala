package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Differential checks of the DataFrame plans against independent SQL
  * formulations of the same queries (Catalyst analyzes them through
  * different paths), plus algebraic invariants — the in-repo tier of
  * the correctness story; the DuckDB oracle is the cross-engine tier. */
class RelationalSpec extends SparkSuite {
  import spark.implicits._

  private val dir = SparkSpec.sfTiny

  private def sqlOf(q: String): org.apache.spark.sql.DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q)
  }

  test("agg_multi matches SQL formulation") {
    val df = Relational.aggMulti(spark, dir)
    val sql = sqlOf(
      """SELECT round(sum(l_quantity), 2) AS sum_qty,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |       count(1) AS cnt
        |FROM lineitem WHERE l_shipdate > TIMESTAMP '1995-06-01 00:00:00'""".stripMargin)
    assert(df.collect().toSeq === sql.collect().toSeq)
  }

  test("join_multicond matches SQL formulation (AND semantics)") {
    val df = Relational.joinMultiCond(spark, dir)
    val sql = sqlOf(
      """SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_orderdate
        |FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        |WHERE o.o_totalprice > 300000
        |ORDER BY l_orderkey, l_linenumber, l_shipdate, o_orderdate""".stripMargin)
    assert(df.collect().toSeq === sql.collect().toSeq)
  }

  test("sort_desc is the exact reverse of sort_asc") {
    val asc = Relational.sortAsc(spark, dir).collect().toSeq
    val desc = Relational.sortDesc(spark, dir).collect().toSeq
    assert(asc === desc.reverse)
  }

  test("sort_topn equals first 100 rows of the full desc sort") {
    val full = Tables.load(spark, dir, "orders")
      .select("o_totalprice", "o_orderkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100).collect().toSeq
    val topn = Relational.sortTopN(spark, dir).collect().toSeq
    assert(topn === full)
  }

  test("set_except returns customers minus order-placing customers") {
    val except = Relational.setExcept(spark, dir).as[Long].collect().toSet
    val all = Tables.load(spark, dir, "customer").select("c_custkey").as[Long].collect().toSet
    val withOrders = Tables.load(spark, dir, "orders").select("o_custkey").as[Long].collect().toSet
    assert(except === (all -- withOrders))
  }

  test("salted join returns exactly the plain join's rows") {
    val salted = Relational.joinSkewSalted(spark, dir).collect().toSeq
    val plain = Tables.load(spark, dir, "lineitem").as("l")
      .join(Tables.load(spark, dir, "orders").as("o"),
        col("l.l_orderkey") === col("o.o_orderkey"))
      .filter(col("o_totalprice") > 350000.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
      .orderBy("l_orderkey", "l_linenumber", "o_totalprice")
      .collect().toSeq
    assert(salted === plain)
  }

  test("approx distinct is within 2% of exact distinct") {
    val exact = Relational.aggCountDistinct(spark, dir).as[Long].head().toDouble
    val approx = Tables.load(spark, dir, "lineitem")
      .agg(approx_count_distinct("l_orderkey", 0.02)).as[Long].head().toDouble
    assert(math.abs(approx - exact) / exact <= 0.02, s"approx $approx vs exact $exact")
    // the registered query's cross-engine contract: exact count + bound flag
    val row = Relational.aggApproxDistinct(spark, dir).head()
    assert(row.getLong(0) === exact.toLong)
    assert(row.getBoolean(1), "HLL++ estimate strayed beyond the 5% flag bound")
  }

  test("active users: first day's WAU equals its DAU, WAU bounded by DAU and total users") {
    val rows = Relational.eventsActiveUsers(spark, dir)
      .as[(java.sql.Date, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, dau, wau) => wau >= dau },
      "a trailing-7-day distinct count can never undercut its own day")
    assert(rows.head._2 === rows.head._3, "first active day has no trailing history")
    val totalUsers = Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(rows.forall(_._3 <= totalUsers))
  }

  test("regression aggregates match their moment formulation") {
    val row = Relational.aggRegression(spark, dir).head()
    val m = Tables.load(spark, dir, "lineitem").agg(
      covar_pop(col("l_extendedprice"), col("l_quantity")),
      var_pop(col("l_quantity")),
      avg("l_extendedprice"), avg("l_quantity")).head()
    val slope = m.getDouble(0) / m.getDouble(1)
    assert(math.abs(row.getDouble(0) - slope) < 1e-3, s"slope ${row.getDouble(0)} vs $slope")
    assert(math.abs(row.getDouble(1) - (m.getDouble(2) - slope * m.getDouble(3))) < 1e-3)
    assert(row.getLong(3) === Tables.load(spark, dir, "lineitem").count())
  }

  test("approx percentile contract: flags true, exacts match the percentile aggregate") {
    val row = Relational.aggApproxPercentile(spark, dir).head()
    assert(row.getBoolean(1), "p50 sketch outside 5%")
    assert(row.getBoolean(3), "p90 sketch outside 5%")
    val p = Tables.load(spark, dir, "lineitem").agg(
      round(expr("percentile(l_quantity, 0.5)"), 4),
      round(expr("percentile(l_extendedprice, 0.9)"), 4)).head()
    assert(row.getDouble(0) === p.getDouble(0))
    assert(row.getDouble(2) === p.getDouble(1))
  }

  test("agg_percentile (bracketed) is bit-identical to the percentile aggregate") {
    val row = Relational.aggPercentile(spark, dir).head()
    val p = Tables.load(spark, dir, "lineitem").agg(
      round(expr("percentile(l_quantity, 0.25)"), 4),
      round(expr("percentile(l_quantity, 0.5)"), 4),
      round(expr("percentile(l_quantity, 0.75)"), 4),
      round(expr("percentile(l_extendedprice, 0.9)"), 4)).head()
    for (i <- 0 until 4)
      assert(java.lang.Double.doubleToLongBits(row.getDouble(i)) ===
        java.lang.Double.doubleToLongBits(p.getDouble(i)), s"column $i")
  }

  test("groupedExactPercentiles: bit-identical to percentile across group shapes") {
    import spark.implicits._
    // groups: dense dups, a singleton, an all-null group, a NULL key
    val rows: Seq[(String, java.lang.Double)] =
      (1 to 500).map(i => ("a", java.lang.Double.valueOf((i % 37) * 0.31 - 3.0))) ++
        (1 to 300).map(i => ("b", java.lang.Double.valueOf(i * 1.5))) ++
        Seq(("c", java.lang.Double.valueOf(7.25)),
          ("d", null),
          (null, java.lang.Double.valueOf(2.5)),
          (null, java.lang.Double.valueOf(9.5)))
    val df = rows.toDF("k", "v").repartition(5)
    val ps = Seq(0.5, 0.9, 0.99)
    val got = Relational.groupedExactPercentiles(df, "k", "v", ps, 32)
      .map { case (k, vs) => Option(k) -> vs }.toMap
    val want = df.groupBy("k")
      .agg(expr(s"percentile(v, array(${ps.mkString(", ")}))").as("p"))
      .collect()
      .map(r => Option(if (r.isNullAt(0)) null else r.getString(0)) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1)))
      .toMap
    assert(got.keySet === want.keySet)
    for ((k, vs) <- got) {
      val w = want(k)
      if (w == null) assert(vs.forall(_.isEmpty), s"group $k: want all-null")
      else vs.zipWithIndex.foreach { case (v, i) =>
        assert(v.isDefined, s"group $k p=${ps(i)}")
        assert(java.lang.Double.doubleToLongBits(v.get) ===
          java.lang.Double.doubleToLongBits(w(i)), s"group $k p=${ps(i)}")
      }
    }
  }

  test("groupedExactPercentiles: a non-string group key fails by name, before any job") {
    import spark.implicits._
    val df = Seq((1, 2.0), (2, 3.0)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Relational.groupedExactPercentiles(df, "k", "v", Seq(0.5))
    }
    assert(e.getMessage.contains("`k`") && e.getMessage.contains("IntegerType"), e.getMessage)
  }

  test("group_percentile (bracketed) matches per-p aggregates") {
    val got = Relational.groupPercentile(spark, dir).collect().toSeq
    val want = Tables.load(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50_value"),
        round(expr("percentile(value, 0.9)"), 4).as("p90_value"),
        round(expr("percentile(value, 0.99)"), 4).as("p99_value"))
      .orderBy("event_type").collect().toSeq
    assert(got === want)
  }

  test("exactPercentilesBracketed: bit-identical to percentile across shapes") {
    import spark.implicits._
    // duplicates (forces the higherKey == lowerKey branch), a hot value,
    // negatives, a null, and fractional/integral positions via many ps
    val vals: Seq[java.lang.Double] =
      (1 to 997).map(i => java.lang.Double.valueOf((i % 61) * 0.37 - 7.0)) ++
        Seq(null, java.lang.Double.valueOf(42.0), java.lang.Double.valueOf(42.0))
    val df = vals.toDF("v").repartition(7)
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    // few buckets: brackets are WIDE relative to n, and targets span
    // bucket boundaries, exercising the multi-bucket rank walk
    val (got, _) = Relational.exactPercentilesBracketed(df, Seq("v" -> ps), 64)
    val want = df.agg(
      expr(s"percentile(v, array(${ps.mkString(", ")}))")).head()
      .getSeq[Double](0)
    ps.zipWithIndex.foreach { case (p, i) =>
      assert(java.lang.Double.doubleToLongBits(got(("v", p))) ===
        java.lang.Double.doubleToLongBits(want(i)), s"p=$p")
    }
  }

  test("exactPercentilesBracketed: coverage miss falls back to the exact aggregate") {
    import spark.implicits._
    val df = (1 to 500).map(_.toDouble).toDF("v")
    // a single bucket degenerates the histogram to [all rows]; the
    // bracket then covers every rank and the walk still lands the
    // exact value — and if it ever missed, the fallback aggregate
    // keeps the answer exact either way.
    val (got, _) = Relational.exactPercentilesBracketed(df, Seq("v" -> Seq(0.5)), 1)
    val want = df.agg(expr("percentile(v, 0.5)")).head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(got(("v", 0.5))) ===
      java.lang.Double.doubleToLongBits(want))
  }

  test("tpch_q18 matches SQL formulation") {
    val df = Relational.tpchQ18BigOrders(spark, dir)
    val sql = sqlOf(
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |             FROM lineitem GROUP BY l_orderkey
        |             HAVING round(sum(l_quantity), 2) > 250)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |       o.o_totalprice, b.sum_qty
        |FROM big b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderdate ASC, o.o_orderkey ASC
        |LIMIT 100""".stripMargin)
    assert(df.collect().toSeq === sql.collect().toSeq)
  }

  test("as-of join matches the per-probe subquery formulation") {
    // oracle-of-record is DuckDB ASOF JOIN; this in-repo differential
    // checks the union+window trick against the O(n·m) correlated form
    val got = Relational.joinAsof(spark, dir).collect().toSeq
    val want = sqlOf(
      """SELECT e.event_id, e.user_id,
        |       (SELECT max(unix_micros(b.ts)) FROM events b
        |         WHERE b.user_id = e.user_id AND b.event_type = 'click'
        |           AND b.ts <= e.ts) AS last_click_us
        |FROM events e ORDER BY event_id""".stripMargin).collect().toSeq
    assert(got === want)
  }

  test("range join matches the theta-join formulation") {
    val got = Relational.joinRange(spark, dir).collect().toSeq
    val want = sqlOf(
      """WITH e AS (SELECT event_id, user_id, unix_micros(ts) AS us FROM events)
        |SELECT a.event_id AS e1, b.event_id AS e2, b.us - a.us AS diff_us
        |FROM e a JOIN e b
        |  ON b.us >= a.us AND b.us < a.us + 1000000
        | AND (a.us < b.us OR a.event_id < b.event_id)
        | AND a.user_id <> b.user_id
        |ORDER BY e1, e2""".stripMargin).collect().toSeq
    assert(got === want)
    assert(got.nonEmpty, "band width should catch at least one coincident pair")
  }

  test("capped range join: wide cap reproduces the exact join, tight cap admits a deterministic subset") {
    val events = Tables.load(spark, dir, "events")
    val exact = Relational.joinRange(spark, dir).collect().toSeq
    // cap above any per-second density → the guard is a no-op
    val wide = Relational.rangeJoinCapped(events, 1000000L, Int.MaxValue)
      .collect().toSeq
    assert(wide === exact, "un-binding the cap must reproduce the exact range join")
    // the registered cap: only pairs whose BOTH endpoints were admitted
    val capped = Relational.joinRangeCapped(spark, dir).collect().toSeq
    val exactSet = exact.toSet
    assert(capped.forall(exactSet.contains),
      "capped pairs must be a subset of the exact pairs")
    // the admission rule is content-keyed, so partitioning can't move it
    val repart = Relational.rangeJoinCapped(events.repartition(13), 1000000L, 20)
      .collect().toSeq
    assert(repart === capped, "admission must be partition-invariant")
  }

  test("semi join returns distinct qualifying customers of the inner join") {
    val semi = Relational.joinSemi(spark, dir).select("c_custkey").as[Long].collect().toSet
    val inner = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "orders").filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"))
      .select("c_custkey").as[Long].collect().toSet
    assert(semi === inner)
  }

  test("running total's last row per customer equals the customer's sum") {
    val last = Relational.windowRunning(spark, dir)
      .groupBy("o_custkey").agg(max("running_total").as("t"))
    val full = Tables.load(spark, dir, "orders")
      .groupBy("o_custkey").agg(round(sum("o_totalprice"), 2).as("t"))
    assert(last.orderBy("o_custkey").collect().toSeq ===
      full.orderBy("o_custkey").collect().toSeq)
  }

  test("pivot cells sum to the unpivoted grand total") {
    val p = Relational.groupPivot(spark, dir)
      .agg((coalesce(sum("A"), lit(0.0)) + coalesce(sum("N"), lit(0.0))
        + coalesce(sum("R"), lit(0.0))).as("t")).as[Double].head()
    val want = Tables.load(spark, dir, "lineitem")
      .agg(sum("l_quantity")).as[Double].head()
    assert(math.abs(p - want) < 1.0, s"pivot total $p vs $want")
  }

  test("events_window counts sum to total events") {
    val total = Tables.load(spark, dir, "events").count()
    val sum = Relational.eventsWindow(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_events")).as[Long].head()
    assert(sum === total)
  }

  test("events_resample: dense per-user grid, counts conserved, carry fills gaps") {
    val rs = Relational.eventsResample(spark, dir).cache()
    try {
      // event counts are conserved (gap rows add zero)
      val total = Tables.load(spark, dir, "events").count()
      val sum = rs.agg(org.apache.spark.sql.functions.sum("n_events")).as[Long].head()
      assert(sum === total)
      // the grid is DENSE: per user, rows = span days (no holes, no extras)
      val holes = rs.groupBy("user_id")
        .agg(count(lit(1)).as("rows"),
          (datediff(max("d"), min("d")) + 1).as("span"))
        .filter(col("rows") =!= col("span")).count()
      assert(holes === 0L, s"$holes users have a sparse or overfull grid")
      // carry_sum is never null (first grid day is an active day) and
      // equals sum_value on active days
      assert(rs.filter(col("carry_sum").isNull).count() === 0L)
      assert(rs.filter(col("n_events") > 0 &&
        col("carry_sum") =!= col("sum_value")).count() === 0L)
    } finally rs.unpersist()
  }

  test("events_ewma matches an exact driver-side replay of the decay formula") {
    val out = Relational.eventsEwma(spark, dir)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
    val raw = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("double"), col("value"))
      .as[(Long, Long, Double, Double)].collect()
    val byUser = raw.groupBy(_._2)
    raw.sortBy(_._1).take(200).foreach { case (id, u, s, _) =>
      val expected = byUser(u)
        .filter { case (_, _, si, _) => si >= s - 7 * 86400 && si <= s }
        .map { case (_, _, si, v) => v * math.exp((si - s) / 86400.0) }
        .sum
      assert(math.abs(out(id) - expected) < 1e-3,
        s"event $id: got ${out(id)}, replay $expected")
    }
    // decay sanity: every score at least the event's own value (weight 1
    // at Δt=0, all other terms non-negative)
    val events = Tables.load(spark, dir, "events")
      .select(col("event_id"), round(col("value"), 4).as("value"))
      .as[(Long, Double)].collect().toMap
    assert(out.forall { case (id, d) => d >= events(id) - 1e-3 })
  }

  test("events_markov: transitions conserve counts and rows are distributions") {
    val mk = Relational.eventsMarkov(spark, dir).cache()
    try {
      // every event except each user's first contributes one transition
      val events = Tables.load(spark, dir, "events")
      val expected = events.count() -
        events.select("user_id").distinct().count()
      val total = mk.agg(org.apache.spark.sql.functions.sum("n")).as[Long].head()
      assert(total === expected)
      // each prev_type's outgoing probabilities sum to ~1
      val bad = mk.groupBy("prev_type")
        .agg(org.apache.spark.sql.functions.sum("p").as("sp"))
        .filter(abs(col("sp") - 1.0) > 1e-4).count()
      assert(bad === 0L, s"$bad rows of the transition matrix don't normalize")
    } finally mk.unpersist()
  }
}
