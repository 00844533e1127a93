package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Crawl, Documents, Embeddings, Multimodal, Relational}

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is one [[SparkEntry.Query]]
  * record in [[SparkEntry.registry]]: its name, its Spark builder and
  * its DuckDB oracle (same parquet tables) for the driver's correctness
  * gate. Column aliases match between the Spark plan and the oracle SQL
  * because the driver sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): revenue
    * per nation — 3-way join (broadcast dim), grouped agg, sort. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val nation = Tables.load(spark, dir, "nation")
    val customer = Tables.load(spark, dir, "customer")
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(nation("n_name"))
      .agg(round(sum(lineitem("l_extendedprice") * (lit(1.0) - lineitem("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** One registered query: the name the driver and the runners use,
    * the Spark plan over a scale-factor directory, and the DuckDB SQL
    * (dialect of the driver's oracle, same parquet tables) whose result
    * the plan must reproduce. */
  final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                         oracle: String)

  /** Builder per registered name (the driver contract's map). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.build }

  /** DuckDB oracle SQL per registered name (the driver runs these on
    * the same parquet tables at sf=0.01 and hash-compares). */
  lazy val oracleSql: Map[String, String] = byName.map { case (n, q) => n -> q.oracle }

  /** The records of `names`, in that order; fails naming every name
    * that is not registered, so a renamed query cannot drop out of a
    * hand-kept list unnoticed. */
  def lookup(names: Seq[String]): Seq[Query] = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unregistered queries: ${unknown.mkString(", ")}")
    names.map(byName)
  }

  /** Name index over `records`; two records with one name fail by name. */
  private[graft] def index(records: Seq[Query]): Map[String, Query] = {
    val names = records.map(_.name)
    val dups = names.diff(names.distinct).distinct
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    records.map(q => q.name -> q).toMap
  }

  private lazy val byName: Map[String, Query] = index(registry)

  /** The WordPiece 3-round training chain, shared VERBATIM by the
    * three text_wordpiece_* oracles so they can never drift: marked
    * initial segmentation (c1, ##c2, ...), per-round token counts for
    * the likelihood denominator, argmax by cnt/(cnt(a)*cnt(b)) as one
    * IEEE double division of exact BIGINTs (no libm), double-space
    * literal-replace rewrite with the right piece's ## stripped. */
  private def wpRound(i: Int): String = {
    val prev = if (i == 1) "seg0" else s"seg${i - 1}"
    s"""tc$i AS (
       |  SELECT tok, sum(c)::BIGINT AS tc
       |  FROM (SELECT unnest(list_filter(regexp_split_to_array(seg, ' +'),
       |                                  x -> x <> '')) AS tok, c FROM $prev)
       |  GROUP BY 1
       |), p$i AS (
       |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
       |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
       |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
       |                                 x -> x <> '') AS t, c FROM $prev))
       |  GROUP BY 1, 2
       |), b$i AS (
       |  SELECT p$i.lhs, p$i.rhs, p$i.cnt FROM p$i
       |  JOIN tc$i ta ON ta.tok = p$i.lhs JOIN tc$i tb ON tb.tok = p$i.rhs
       |  ORDER BY p$i.cnt::DOUBLE / (ta.tc::DOUBLE * tb.tc::DOUBLE) DESC,
       |           p$i.lhs, p$i.rhs LIMIT 1
       |), seg$i AS (
       |  SELECT coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
       |           replace(s.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
       |                   ' ' || b.lhs || substr(b.rhs, 3) || ' '),
       |           ' +'), x -> x <> ''), '  ') || ' ', s.seg) AS seg, s.c
       |  FROM $prev s LEFT JOIN b$i b ON true
       |)""".stripMargin
  }
  private val wpTrainCtes: String =
    """words AS (
      |  SELECT w, count(*)::BIGINT AS c
      |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |        FROM documents)
      |  WHERE length(w) >= 2 GROUP BY 1
      |), seg0 AS (
      |  SELECT ' ' || w[1] || '  ' || array_to_string(
      |           list_transform(range(2, length(w) + 1), i -> '##' || w[i]), '  ')
      |         || ' ' AS seg, c
      |  FROM words
      |), """.stripMargin + wpRound(1) + ", " + wpRound(2) + ", " + wpRound(3)


  /** DSIR importance-weight oracle — shared verbatim between
    * `corpus_dsir` and the CTE of `corpus_dsir_select` so the two can
    * never drift. */
  private val dsirSql: String =
    """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |              FROM documents),
      |b AS (SELECT doc_id, lang,
      |        ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS bkt FROM toks),
      |m AS (SELECT bkt, count(*) AS nr,
      |        count(*) FILTER (WHERE lang = 'en') AS nt FROM b GROUP BY 1),
      |tot AS (SELECT sum(nr) AS tr, sum(nt) AS tt FROM m),
      |w AS (SELECT bkt, ln(((nt + 1)::DOUBLE / (tt + 1024)) /
      |                     ((nr + 1)::DOUBLE / (tr + 1024))) AS lw
      |      FROM m CROSS JOIN tot),
      |db AS (SELECT doc_id, bkt, count(*) AS c FROM b GROUP BY 1, 2)
      |SELECT doc_id, sum(c)::BIGINT AS n_tokens,
      |       round(sum(c * lw), 4) AS log_ratio
      |FROM db JOIN w USING (bkt) GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Shared by `embed_ann_lsh` and `embed_ann_auto`: the auto router
    * picks the sketch path on this corpus (measured tightness ~0.5
    * against the 0.75 cut), so both queries' true answer is the same
    * sign-sketch → Hamming gate → exact-rerank replay. */
  private val annLshOracle: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |mat AS (SELECT p.p AS p,
      |          list(CASE WHEN substr(md5('sign:' || p.p || ':' || d.d), 1, 1)
      |                    IN ('1','3','5','7','9','b','d','f')
      |               THEN 1.0 ELSE -1.0 END ORDER BY d.d) AS srow
      |        FROM range(0, 256) p(p), range(0, 64) d(d) GROUP BY p.p),
      |bits AS (SELECT vec_id,
      |           list(CASE WHEN list_reduce(list_transform(range(1, 65),
      |                  i -> embedding[i]::DOUBLE * srow[i]), (a, b) -> a + b) > 0
      |                THEN 1 ELSE 0 END ORDER BY p) AS bits
      |         FROM e, mat GROUP BY vec_id),
      |q AS (SELECT vec_id AS q_id, bits AS q_bits FROM bits WHERE vec_id < 10),
      |ham AS (SELECT q_id, b.vec_id,
      |          list_sum(list_transform(range(1, 257),
      |            i -> CASE WHEN q_bits[i] != b.bits[i] THEN 1 ELSE 0 END)) AS ham
      |        FROM q, bits b WHERE b.vec_id != q_id),
      |topc AS (SELECT q_id, vec_id FROM
      |           (SELECT q_id, vec_id,
      |              row_number() OVER (PARTITION BY q_id
      |                                 ORDER BY ham ASC, vec_id ASC) AS hrnk
      |            FROM ham WHERE ham <= 128)
      |         WHERE hrnk <= 150),
      |qe AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
      |s AS (SELECT t.q_id, t.vec_id,
      |        round(list_sum(list_transform(range(1, len(q_emb) + 1),
      |                i -> q_emb[i]::DOUBLE * e.embedding[i]::DOUBLE))
      |          / (sqrt(list_sum(list_transform(q_emb, x -> x::DOUBLE * x::DOUBLE)))
      |           * sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS sim
      |      FROM topc t JOIN e ON e.vec_id = t.vec_id JOIN qe ON qe.q_id = t.q_id),
      |r AS (SELECT q_id, vec_id, sim,
      |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rnk FROM s)
      |SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin

  /** Shared oracle CTE mirroring [[Relational.partsupp]]: the observed
    * (l_partkey, l_suppkey) pairs with availqty/supplycost synthesized
    * by the SAME integer modular arithmetic — supplycost in BIGINT
    * cents so every downstream min/sum/comparison is integer-exact. */
  private[graft] val partsuppCte: String =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         ((l_partkey * 7 + l_suppkey * 11) % 100 + 1)::INT AS ps_availqty,
      |         ((l_partkey * 13 + l_suppkey * 17) % 1000 + 100)::BIGINT AS ps_cost_cents
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))""".stripMargin

  /** Shared recursive-CTE replay of the unigram-LM fit — seed
    * substring counting, v0 scores, E-step 1 (r1/b1), M-step (c1/v1),
    * E-step 2 (r2/b2), final counts (c2) — the chain the three
    * text_unigram_* oracles select from. Ends inside the WITH clause
    * so callers either append their SELECT (train/vocab read c2/v1)
    * or extend with further CTEs (encode reads b2). */
  private val unigramFitSql: String =
    """WITH RECURSIVE words AS (
      |  SELECT w, count(*)::BIGINT AS c
      |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |        FROM documents)
      |  WHERE length(w) >= 2 GROUP BY 1
      |), pos AS (
      |  SELECT w, c, unnest(range(1, length(w) + 1)) AS i FROM words
      |), sub AS (
      |  SELECT w, c, i, unnest(range(1, least(3, length(w) - i + 1) + 1)) AS l FROM pos
      |), seed AS (
      |  SELECT substr(w, i, l) AS tok, sum(c)::BIGINT AS cnt FROM sub GROUP BY 1
      |), t0 AS (
      |  SELECT (sum(cnt) + count(*))::DOUBLE AS total FROM seed
      |), v0 AS (
      |  SELECT tok, CAST(floor(ln((cnt + 1)::DOUBLE / t0.total) * 1000000 + 0.5) AS BIGINT) AS lp
      |  FROM seed, t0
      |), r1 AS (
      |  SELECT w, c, 0 AS pos, 0::BIGINT AS score, 0 AS k, '' AS seg FROM words
      |  UNION ALL
      |  SELECT r.w, r.c, r.pos + length(v.tok), r.score + v.lp, r.k + 1,
      |         CASE WHEN r.seg = '' THEN v.tok ELSE r.seg || ' ' || v.tok END
      |  FROM r1 r JOIN v0 v ON v.tok = substr(r.w, r.pos + 1, length(v.tok))
      |  WHERE r.pos < length(r.w)
      |), b1 AS (
      |  SELECT w, c, seg FROM (
      |    SELECT w, c, seg,
      |           row_number() OVER (PARTITION BY w ORDER BY score DESC, k ASC, seg ASC) AS rn
      |    FROM r1 WHERE pos = length(w)) WHERE rn = 1
      |), c1 AS (
      |  SELECT tok, sum(c)::BIGINT AS cnt
      |  FROM (SELECT unnest(string_split(seg, ' ')) AS tok, c FROM b1) GROUP BY 1
      |), t1 AS (
      |  SELECT ((SELECT sum(cnt) FROM c1) + (SELECT count(*) FROM seed))::DOUBLE AS total
      |), v1 AS (
      |  SELECT s.tok,
      |         CAST(floor(ln((coalesce(c1.cnt, 0) + 1)::DOUBLE / t1.total) * 1000000 + 0.5) AS BIGINT) AS lp
      |  FROM seed s LEFT JOIN c1 ON s.tok = c1.tok, t1
      |), r2 AS (
      |  SELECT w, c, 0 AS pos, 0::BIGINT AS score, 0 AS k, '' AS seg FROM words
      |  UNION ALL
      |  SELECT r.w, r.c, r.pos + length(v.tok), r.score + v.lp, r.k + 1,
      |         CASE WHEN r.seg = '' THEN v.tok ELSE r.seg || ' ' || v.tok END
      |  FROM r2 r JOIN v1 v ON v.tok = substr(r.w, r.pos + 1, length(v.tok))
      |  WHERE r.pos < length(r.w)
      |), b2 AS (
      |  SELECT w, c, seg FROM (
      |    SELECT w, c, seg,
      |           row_number() OVER (PARTITION BY w ORDER BY score DESC, k ASC, seg ASC) AS rn
      |    FROM r2 WHERE pos = length(w)) WHERE rn = 1
      |), c2 AS (
      |  SELECT tok, sum(c)::BIGINT AS cnt
      |  FROM (SELECT unnest(string_split(seg, ' ')) AS tok, c FROM b2) GROUP BY 1
      |)""".stripMargin

  /** The uncapped 3-gram-Jaccard pair replay, shared VERBATIM by
    * `dedup_ngram_jaccard` and its staged-wave twin — the rows' whole
    * point is bit-identity, so their oracles must be one string. */
  private val jaccardPairSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
      |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT d1, d2, floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 AS jaccard
      |FROM pairs JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
      |WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6
      |ORDER BY d1, d2""".stripMargin

  /** Every registered query, one record each, in `graft.Bench`'s sweep
    * order: moving a record moves its bench row. The curated rows come
    * first (a stable cross-round comparison), then every other name
    * sorted; Bench runs its pair family last whatever their place here.
    *
    * Lazy because the oracles read the shared CTE strings above; a
    * strict val declared before them would read them as null during
    * object initialization. */
  lazy val registry: Seq[Query] = Seq(
    Query("agg_avg", Relational.aggAvg,
      "SELECT round(avg(l_quantity), 4) AS avg_qty FROM lineitem"),
    Query("agg_max_date", Relational.aggMaxDate,
      "SELECT max(l_shipdate) AS max_shipdate FROM lineitem"),
    Query("agg_multi", Relational.aggMulti,
      """SELECT round(sum(l_quantity), 2) AS sum_qty,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       min(l_quantity) AS min_qty,
        |       max(l_quantity) AS max_qty,
        |       count(*) AS cnt
        |FROM lineitem WHERE l_shipdate > TIMESTAMP '1995-06-01 00:00:00'""".stripMargin),
    Query("sort_asc", Relational.sortAsc,
      """SELECT l_extendedprice, l_orderkey FROM lineitem
        |ORDER BY l_extendedprice ASC, l_orderkey ASC""".stripMargin),
    Query("sort_date", Relational.sortDate,
      "SELECT o_orderdate, o_orderkey FROM orders ORDER BY o_orderdate ASC, o_orderkey ASC"),
    Query("sort_string", Relational.sortString,
      "SELECT c_name, c_custkey FROM customer ORDER BY c_name ASC, c_custkey ASC"),
    Query("sort_topn", Relational.sortTopN,
      """SELECT o_totalprice, o_orderkey FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin),
    Query("join_equi", Relational.joinEqui,
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |WHERE o.o_totalprice > 250000
        |ORDER BY c_custkey, c_name, o_orderkey, o_totalprice""".stripMargin),
    Query("join_multicond", Relational.joinMultiCond,
      """SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_orderdate
        |FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        |WHERE o.o_totalprice > 300000
        |ORDER BY l_orderkey, l_linenumber, l_shipdate, o_orderdate""".stripMargin),
    Query("join_skew_salted", Relational.joinSkewSalted,
      """SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 350000
        |ORDER BY l_orderkey, l_linenumber, o_totalprice""".stripMargin),
    Query("agg_count_distinct", Relational.aggCountDistinct,
      "SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem"),
    // Each engine checks ITS OWN sketch against the shared exact count
    // — the estimate itself is sketch-family-specific, the bound is the
    // portable contract (deterministic: a sketch is a pure function of
    // the data).
    Query("agg_approx_distinct", Relational.aggApproxDistinct,
      """SELECT count(DISTINCT l_orderkey) AS n_orders_exact,
        |       abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
        |         <= 0.05 * count(DISTINCT l_orderkey) AS approx_within_5pct
        |FROM lineitem""".stripMargin),
    Query("agg_regression", Relational.aggRegression,
      """SELECT round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |       regr_count(l_extendedprice, l_quantity)::BIGINT AS n
        |FROM lineitem""".stripMargin),
    // Same contract as agg_approx_distinct: each engine's own sketch
    // (t-digest there, KLL-style percentile_approx here) checked
    // against the shared exact percentile.
    Query("agg_approx_percentile", Relational.aggApproxPercentile,
      """SELECT round(quantile_cont(l_quantity, 0.5), 4) AS exact_p50,
        |  abs(approx_quantile(l_quantity, 0.5) - quantile_cont(l_quantity, 0.5))
        |    <= quantile_cont(l_quantity, 0.5) * 0.05 AS p50_within_5pct,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS exact_p90,
        |  abs(approx_quantile(l_extendedprice, 0.9) - quantile_cont(l_extendedprice, 0.9))
        |    <= quantile_cont(l_extendedprice, 0.9) * 0.05 AS p90_within_5pct
        |FROM lineitem""".stripMargin),
    // Fully parenthesized: DuckDB's & binds no tighter than |, so each
    // interleave term carries its own parens.
    Query("layout_zorder", graft.sources.Layout.layoutZorderQ, {
      val terms = (0 until 8).flatMap(i => Seq(
        s"((((l_partkey % 256) >> $i) & 1) << ${2 * i})",
        s"((((l_suppkey % 256) >> $i) & 1) << ${2 * i + 1})"))
      s"""SELECT l_orderkey, l_linenumber, ${terms.mkString(" | ")} AS z
         |FROM lineitem WHERE l_orderkey < 1000
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    }),
    Query("group_agg", Relational.groupAgg,
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("group_rollup", Relational.groupRollup,
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    Query("group_cube", Relational.groupCube,
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST,
        |         sum_qty ASC""".stripMargin),
    Query("window_rank", Relational.windowRank,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_orderkey, o_totalprice, rn""".stripMargin),
    Query("set_union", Relational.setUnion,
      """SELECT o_custkey AS ckey FROM orders WHERE o_totalprice > 300000
        |UNION
        |SELECT c_custkey AS ckey FROM customer WHERE c_acctbal < 0
        |ORDER BY ckey""".stripMargin),
    Query("join_left_outer", Relational.joinLeftOuter,
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        |FROM customer c
        |LEFT JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |           WHERE o_totalprice > 400000) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin),
    Query("join_anti", Relational.joinAnti,
      """SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin),
    Query("join_semi", Relational.joinSemi,
      """SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),
    Query("join_asof", Relational.joinAsof,
      """SELECT e.event_id, e.user_id, epoch_us(b.ts) AS last_click_us
        |FROM events e ASOF LEFT JOIN
        |  (SELECT user_id, ts FROM events WHERE event_type = 'click') b
        |  ON e.user_id = b.user_id AND e.ts >= b.ts
        |ORDER BY event_id""".stripMargin),
    Query("join_range", Relational.joinRange,
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
        |SELECT a.event_id AS e1, b.event_id AS e2, b.us - a.us AS diff_us
        |FROM e a JOIN e b
        |  ON b.us >= a.us AND b.us < a.us + 1000000
        | AND (a.us < b.us OR a.event_id < b.event_id)
        | AND a.user_id <> b.user_id
        |ORDER BY e1, e2""".stripMargin),
    Query("agg_stddev", Relational.aggStddev,
      """SELECT round(stddev_samp(l_quantity), 4) AS std_qty,
        |       round(var_samp(l_quantity), 4) AS var_qty,
        |       round(stddev_pop(l_quantity), 4) AS stdp_qty,
        |       round(stddev_samp(l_extendedprice), 4) AS std_price
        |FROM lineitem""".stripMargin),
    Query("window_running", Relational.windowRunning,
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |         ORDER BY o_orderdate ASC, o_orderkey ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("group_pivot", Relational.groupPivot,
      """SELECT l_linestatus,
        |       round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
        |       round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
        |       round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin),
    Query("window_lag", Relational.windowLag,
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  coalesce(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC), 0.0) AS prev_price,
        |  date_diff('day', o_orderdate,
        |    coalesce(lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC), o_orderdate))::BIGINT AS days_to_next
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("group_grouping_sets", Relational.groupGroupingSets,
      """SELECT l_linestatus, l_returnflag,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_linestatus, l_returnflag), (l_linestatus), ())
        |ORDER BY l_linestatus NULLS FIRST, l_returnflag NULLS FIRST""".stripMargin),
    Query("window_ntile", Relational.windowNtile,
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |       ntile(4) OVER (PARTITION BY c_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
        |FROM customer
        |ORDER BY c_nationkey, c_custkey""".stripMargin),
    Query("join_full_outer", Relational.joinFullOuter,
      """SELECT c.c_custkey, c.c_name, o.o_custkey, o.o_orderkey, o.o_totalprice
        |FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000.0) c
        |FULL OUTER JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |                 WHERE o_totalprice > 400000.0) o
        |ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey ASC NULLS FIRST, o.o_orderkey ASC NULLS FIRST""".stripMargin),
    Query("scalar_datetime", Relational.scalarDatetime,
      """SELECT o_orderkey,
        |  date_trunc('quarter', o_orderdate) AS qtr_start,
        |  quarter(o_orderdate)::INT AS qtr,
        |  (dayofweek(o_orderdate) + 1)::INT AS dow,
        |  (o_orderdate::DATE + INTERVAL 3 MONTH)::DATE AS plus_3m,
        |  date_diff('day', o_orderdate::DATE, DATE '1998-01-01')::BIGINT AS days_to_98
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin),
    Query("corpus_stats", Documents.corpusStats,
      """WITH d AS (SELECT lang, source, len(string_split(text, ' '))::BIGINT AS n_tokens,
        |                  n_chars FROM documents)
        |SELECT lang,
        |  count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS total_tokens,
        |  round(avg(n_tokens), 4) AS avg_tokens,
        |  round(quantile_cont(n_tokens, 0.5), 4) AS med_tokens,
        |  max(n_chars) AS max_chars,
        |  count(DISTINCT source) AS n_sources
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin),
    Query("corpus_mix", Documents.corpusMix,
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(text), 1, 2) <
        |  CASE lang WHEN 'en' THEN 'c0' WHEN 'de' THEN '80'
        |            WHEN 'es' THEN '40' WHEN 'fr' THEN '20'
        |            ELSE '00' END
        |ORDER BY doc_id""".stripMargin),
    Query("group_having", Relational.groupHaving,
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |HAVING count(*) > 10000 AND avg(l_discount) > 0.04
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("select_distinct", Relational.selectDistinct,
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),
    Query("filter_in_subquery", Relational.filterInSubquery,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |  AND o_totalprice > 200000.0
        |ORDER BY o_orderkey""".stripMargin),
    Query("window_first_last", Relational.windowFirstLast,
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    // floor(x*1e6 + 0.5)/1e6 on BOTH sides: rank ratios hit exact
    // half-ties systematically, where the engines' round() algorithms
    // disagree; identical IEEE ops on the identical double cannot.
    Query("window_percent_rank", Relational.windowPercentRank,
      """SELECT c_nationkey, c_custkey,
        |  floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
        |  floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_nationkey, c_custkey""".stripMargin),
    Query("agg_corr", Relational.aggCorr,
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |       round(covar_samp(l_quantity, l_discount), 6) AS covs_qty_disc,
        |       round(covar_pop(l_quantity, l_discount), 6) AS covp_qty_disc,
        |       round(corr(l_discount, l_tax), 6) AS corr_disc_tax
        |FROM lineitem""".stripMargin),
    Query("events_retention", Relational.eventsRetention,
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, d FROM e)
        |SELECT f.cohort, date_diff('day', f.cohort, a.d)::INT AS day_offset,
        |       count(DISTINCT a.user_id) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin),
    Query("tpch_q1_pricing", Relational.tpchQ1Pricing,
      """SELECT l_returnflag, l_linestatus,
        |       floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
        |       floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_base_price,
        |       floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100 AS sum_disc_price,
        |       floor(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)) * 100 + 0.5) / 100 AS sum_charge,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("tpch_q3_shipping", Relational.tpchQ3Shipping,
      """SELECT l_orderkey, o_orderdate,
        |       floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),
    Query("tpch_q5_local", Relational.tpchQ5Local,
      """SELECT n_name, floor(sum(l_extendedprice * (1.0 - l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin),
    Query("tpch_q18_big_orders", Relational.tpchQ18BigOrders,
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |             FROM lineitem GROUP BY 1
        |             HAVING round(sum(l_quantity), 2) > 250)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |       o.o_totalprice, b.sum_qty
        |FROM big b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderdate ASC, o.o_orderkey ASC
        |LIMIT 100""".stripMargin),
    Query("tpch_q10_returns", Relational.tpchQ10Returns,
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin),
    Query("tpch_q7_volume", Relational.tpchQ7Volume,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       year(l.l_shipdate)::INT AS l_year,
        |       round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
        |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    Query("events_attribution", Relational.eventsAttribution,
      """SELECT c.user_id, c.ts AS click_ts, v.ts AS view_ts,
        |       round(c.value, 4) AS value
        |FROM events c JOIN events v ON v.user_id = c.user_id
        |WHERE c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3, 4""".stripMargin),
    Query("events_dedup_window", Relational.eventsDedupWindow,
      """WITH b AS (SELECT event_id, user_id, event_type, ts,
        |             time_bucket(INTERVAL '1 hour', ts) AS bucket FROM events),
        |r AS (SELECT event_id, user_id, event_type, bucket,
        |        row_number() OVER (PARTITION BY user_id, event_type, bucket
        |                           ORDER BY ts ASC, event_id ASC) AS rn
        |      FROM b)
        |SELECT event_id, user_id, event_type, bucket
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin),
    Query("events_ewma", Relational.eventsEwma,
      """WITH e AS (SELECT event_id, user_id, epoch(ts) AS s, value FROM events),
        |a AS (SELECT event_id, user_id, s, value,
        |        max(s) OVER (PARTITION BY user_id) / 86400.0 AS anchor_d
        |      FROM e)
        |SELECT event_id, user_id,
        |  round(exp(anchor_d - s / 86400.0) *
        |        sum(value * exp(s / 86400.0 - anchor_d))
        |          OVER (PARTITION BY user_id ORDER BY s
        |                RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 4)
        |    AS decayed
        |FROM a ORDER BY event_id""".stripMargin),
    // Each event lands in exactly len/slide = 4 hopping windows whose
    // starts are its 15-min bucket minus 0..3 slides — no containment
    // WHERE needed (see the b <= ts < b+15m algebra in the scaladoc).
    Query("events_window_sliding", Relational.eventsWindowSliding,
      """WITH x AS (SELECT event_type, value,
        |             time_bucket(INTERVAL '15 minutes', ts) AS b FROM events),
        |w AS (SELECT b - i * INTERVAL '15 minutes' AS w_start, event_type, value
        |      FROM x, unnest(range(0, 4)) AS t(i))
        |SELECT w_start, event_type, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("group_percentile", Relational.groupPercentile,
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50_value,
        |       round(quantile_cont(value, 0.9), 4) AS p90_value,
        |       round(quantile_cont(value, 0.99), 4) AS p99_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("group_approx_distinct", Relational.groupApproxDistinct,
      """SELECT event_type,
        |       count(DISTINCT user_id) AS n_users_exact,
        |       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))::DOUBLE
        |         / count(DISTINCT user_id) <= 0.05 AS approx_within_5pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("corpus_reservoir", Documents.corpusReservoir,
      """WITH r AS (SELECT doc_id, lang,
        |             row_number() OVER (PARTITION BY lang
        |                                ORDER BY md5(text), doc_id) AS rn
        |           FROM documents)
        |SELECT doc_id, lang, rn FROM r WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin),
    Query("corpus_topk_per_lang", Documents.corpusTopkPerLang,
      """WITH r AS (SELECT lang, doc_id, n_chars,
        |             row_number() OVER (PARTITION BY lang
        |                                ORDER BY n_chars DESC, doc_id ASC) AS rnk
        |           FROM documents)
        |SELECT lang, rnk, doc_id, n_chars FROM r WHERE rnk <= 5
        |ORDER BY lang, rnk""".stripMargin),
    Query("events_anomaly", Relational.eventsAnomaly,
      """WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        |           FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, round(value, 4) AS value,
        |       round((value - mu) / sigma, 4) AS z
        |FROM events e JOIN s ON e.event_type = s.event_type
        |WHERE sigma > 0 AND round(abs(value - mu) - 3 * sigma, 6) > 0
        |ORDER BY event_id""".stripMargin),
    Query("corpus_trim", Documents.corpusTrim,
      """WITH d AS (SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tokens
        |           FROM documents),
        |b AS (SELECT quantile_cont(n_tokens, 0.1) AS lo,
        |             quantile_cont(n_tokens, 0.99) AS hi FROM d)
        |SELECT doc_id, lang, n_tokens FROM d CROSS JOIN b
        |WHERE n_tokens >= lo AND n_tokens <= hi
        |ORDER BY doc_id""".stripMargin),
    Query("corpus_histogram", Documents.corpusHistogramQ,
      """WITH d AS (SELECT len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |t AS (SELECT count(*) AS n_total FROM d)
        |SELECT (n_tokens // 10) * 10 AS bucket_lo, count(*) AS n_docs,
        |       floor((count(*)::DOUBLE / n_total * 100) * 10000 + 0.5) / 10000 AS pct
        |FROM d CROSS JOIN t GROUP BY 1, n_total ORDER BY 1""".stripMargin),
    Query("corpus_quality_sample", Documents.corpusQualitySample,
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |u AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS total FROM toks),
        |s AS (SELECT doc_id, round(avg(-ln(tf::DOUBLE / total)), 4) AS avg_surprisal
        |      FROM toks JOIN u USING (tok) CROSS JOIN n GROUP BY doc_id),
        |b AS (SELECT quantile_cont(avg_surprisal, 0.25) AS p25,
        |             quantile_cont(avg_surprisal, 0.75) AS p75 FROM s),
        |t AS (SELECT d.doc_id, s.avg_surprisal, d.text,
        |        CASE WHEN s.avg_surprisal <= b.p25 THEN 1
        |             WHEN s.avg_surprisal > b.p75 THEN 3
        |             ELSE 2 END AS tier
        |      FROM documents d JOIN s ON d.doc_id = s.doc_id CROSS JOIN b)
        |SELECT doc_id, tier, avg_surprisal FROM t
        |WHERE substr(md5(text), 1, 2) < (CASE WHEN tier = 2 THEN 'zz' ELSE '40' END)
        |ORDER BY doc_id""".stripMargin),
    Query("corpus_upsert", Documents.corpusUpsert,
      """WITH up AS (SELECT doc_id, text || ' [rev2]' AS text, lang
        |            FROM documents WHERE doc_id % 10 = 0),
        |all_rows AS (SELECT doc_id, text, lang, 0 AS src FROM documents
        |             UNION ALL SELECT doc_id, text, lang, 1 FROM up),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY src DESC) AS rn
        |      FROM all_rows)
        |SELECT doc_id, lang, length(text) AS n_chars,
        |       text LIKE '% [rev2]' AS revised
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    Query("filter_null_safe", Relational.filterNullSafe,
      """WITH big AS (SELECT o_custkey, max(o_totalprice) AS best_price
        |             FROM orders WHERE o_totalprice > 450000.0 GROUP BY 1)
        |SELECT c_custkey,
        |       best_price = 500000.0 AS eq_cmp,
        |       best_price IS NOT DISTINCT FROM NULL AS nullsafe_to_null,
        |       best_price IS NULL AS is_null,
        |       coalesce(best_price, 0.0) AS price_or_zero
        |FROM customer LEFT JOIN big ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin),
    Query("scalar_string", Relational.scalarString,
      """SELECT c_custkey,
        |       lpad(c_name, 25, '*') AS padded,
        |       split_part(c_name, '#', 2) AS name_num,
        |       translate(c_name, '#0', '-x') AS translated,
        |       upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2, 100)) AS segment_cap,
        |       reverse(c_name) AS reversed,
        |       levenshtein(c_name, c_mktsegment)::INT AS edit_dist,
        |       CASE WHEN position('#' IN c_name) IS NULL THEN 0
        |            ELSE position('#' IN c_name) END::INT AS hash_pos
        |FROM customer WHERE c_custkey <= 500
        |ORDER BY c_custkey""".stripMargin),
    Query("agg_string_minmax", Relational.aggStringMinmax,
      """SELECT min(c_name) AS min_name, max(c_name) AS max_name,
        |       min(c_mktsegment) AS min_seg, max(c_mktsegment) AS max_seg
        |FROM customer""".stripMargin),
    Query("window_range_frame", Relational.windowRangeFrame,
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |             epoch(o_orderdate)::BIGINT AS us, o_totalprice
        |           FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER w, 2) AS spend_30d,
        |  count(*) OVER w AS n_orders_30d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY us
        |  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("q1_join_avg", Relational.q1JoinAvg,
      """SELECT round(avg(c.c_acctbal), 2) AS avg_acctbal
        |FROM customer c, orders o
        |WHERE c.c_custkey = o.o_custkey AND o.o_totalprice > 150000""".stripMargin),
    Query("q3_subquery_desc", Relational.q3SubqueryDesc,
      """SELECT c.c_name,
        |       (SELECT round(sum(o.o_totalprice), 2) FROM orders o
        |         WHERE o.o_custkey = c.c_custkey) AS total_spent
        |FROM customer c
        |ORDER BY total_spent DESC NULLS LAST, c.c_name ASC""".stripMargin),
    Query("events_window", Relational.eventsWindow,
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY w_start, event_type, n_events, sum_value""".stripMargin),
    Query("events_json_props", Relational.eventsJsonProps,
      """SELECT event_type, count(*) AS n,
        |       round(avg(CAST(props->>'k' AS INT)), 4) AS avg_k,
        |       max(CAST(props->>'k' AS INT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("events_sessionize", Relational.eventsSessionize,
      """WITH e AS (SELECT user_id, event_id, ts, value,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |           FROM events),
        |g AS (SELECT user_id, event_id, ts, value, us,
        |        CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                  > 1800000000 THEN 1 ELSE 0 END AS gap
        |      FROM e),
        |s AS (SELECT user_id, value, us,
        |        CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       round(sum(value), 2) AS sum_value,
        |       max(us) - min(us) AS duration_us
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin),
    Query("events_funnel", Relational.eventsFunnel,
      """WITH w1 AS (SELECT user_id, ts, event_type,
        |  min(CASE WHEN event_type = 'view' THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM events),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t3 FROM w2)
        |SELECT user_id, min(t1) AS t_view, min(t2) AS t_click, min(t3) AS t_purchase,
        |  CASE WHEN min(t3) IS NOT NULL THEN 3
        |       WHEN min(t2) IS NOT NULL THEN 2
        |       WHEN min(t1) IS NOT NULL THEN 1 ELSE 0 END::INT AS stages
        |FROM w3 GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("events_resample", Relational.eventsResample,
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |                 count(*) AS n, round(sum(value), 2) AS sv
        |               FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        |         FROM span),
        |j AS (SELECT g.user_id, g.d, daily.n, daily.sv
        |      FROM grid g LEFT JOIN daily ON g.user_id = daily.user_id AND g.d = daily.d)
        |SELECT user_id, d, coalesce(n, 0) AS n_events, coalesce(sv, 0.0) AS sum_value,
        |       last_value(sv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_sum
        |FROM j ORDER BY user_id, d""".stripMargin),
    Query("events_active_users", Relational.eventsActiveUsers,
      """WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1),
        |w AS (SELECT unnest(generate_series(day, day + INTERVAL 6 DAY,
        |         INTERVAL 1 DAY))::DATE AS day, user_id FROM du),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau_trailing FROM w GROUP BY 1)
        |SELECT d.day, d.dau, wau.wau_trailing
        |FROM dau d JOIN wau USING (day) ORDER BY day""".stripMargin),
    Query("events_markov", Relational.eventsMarkov,
      """WITH t AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT prev, event_type, count(*) AS n FROM t
        |      WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev AS prev_type, event_type AS next_type, n,
        |       floor(n::DOUBLE / sum(n) OVER (PARTITION BY prev) * 1000000 + 0.5) / 1000000 AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin),
    Query("events_paths", Relational.eventsPaths,
      """WITH e AS (SELECT user_id, event_id, ts, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT *, CASE WHEN us - lag(us) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |        THEN 1 ELSE 0 END AS gap FROM e),
        |s AS (SELECT *, CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM g),
        |t AS (SELECT event_type,
        |        lag(event_type, 2) OVER w2 AS t1, lag(event_type, 1) OVER w2 AS t2
        |      FROM s WINDOW w2 AS (PARTITION BY user_id, session_id ORDER BY ts, event_id))
        |SELECT t1, t2, event_type AS t3, count(*) AS n
        |FROM t WHERE t1 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin),
    Query("corpus_dsir", Documents.corpusDsir, dsirSql),
    // Gumbel noise from md5(doc_id) — both engines derive the same
    // 60-bit uniform, so the resample is a hard oracle row.
    Query("corpus_dsir_select", Documents.corpusDsirSelect,
      s"""WITH dsir AS ($dsirSql)
         |SELECT doc_id,
         |  round(log_ratio + round(-ln(-ln(
         |    (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 0.5)
         |      / 1152921504606846976.0)), 4), 4) AS score
         |FROM dsir
         |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin),
    Query("agg_count", Relational.aggCount,
      "SELECT count(*) AS cnt FROM lineitem WHERE l_discount > 0.05"),
    Query("agg_max", Relational.aggMax,
      "SELECT max(l_extendedprice) AS max_price FROM lineitem"),
    Query("agg_min", Relational.aggMin,
      "SELECT min(l_extendedprice) AS min_price FROM lineitem"),
    Query("agg_min_date", Relational.aggMinDate,
      "SELECT min(l_shipdate) AS min_shipdate FROM lineitem"),
    Query("agg_percentile", Relational.aggPercentile,
      """SELECT round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
        |       round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |       round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty,
        |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
        |FROM lineitem""".stripMargin),
    Query("agg_sum", Relational.aggSum,
      "SELECT round(sum(l_extendedprice), 2) AS sum_price FROM lineitem"),
    // the clusters chain; dropped = doc_id <> its cluster root, token
    // savings grouped by source under the floor-rounding contract
    Query("corpus_dedup_savings", Documents.corpusDedupSavings,
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |e AS (SELECT d1, d2 FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6),
        |edges AS (SELECT d1 AS u, d2 AS v FROM e UNION SELECT d2, d1 FROM e),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
        |          WHERE e2.v <> r.u),
        |cl AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster
        |       FROM documents d LEFT JOIN reach r ON r.u = d.doc_id GROUP BY d.doc_id),
        |t AS (SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS n_tokens
        |      FROM documents)
        |SELECT t.source,
        |       count(*)::BIGINT AS n_docs,
        |       count(CASE WHEN cl.cluster <> t.doc_id THEN 1 END)::BIGINT AS n_dropped,
        |       sum(t.n_tokens)::BIGINT AS tokens,
        |       coalesce(sum(CASE WHEN cl.cluster <> t.doc_id THEN t.n_tokens END), 0)::BIGINT
        |         AS tokens_dropped,
        |       floor(coalesce(sum(CASE WHEN cl.cluster <> t.doc_id THEN t.n_tokens END), 0)::DOUBLE
        |             / sum(t.n_tokens) * 10000 + 0.5) / 10000 AS drop_frac
        |FROM t JOIN cl ON t.doc_id = cl.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Fractional repetition: epochs 1..floor(w) in full, one extra
    // epoch for the md5-gated w-floor(w) fraction; skey is the
    // per-epoch deterministic shuffle key.
    Query("corpus_epoch_schedule", Documents.corpusEpochSchedule,
      """WITH d AS (SELECT doc_id, source,
        |             1 + (('0x' || substr(md5(source), 1, 15))::BIGINT % 4) * 0.5 AS w
        |           FROM documents),
        |e AS (SELECT d.doc_id, d.source, d.w, t.epoch
        |      FROM d, UNNEST(range(1, ceil(d.w)::BIGINT + 1)) AS t(epoch)),
        |f AS (SELECT doc_id, source, epoch FROM e
        |      WHERE epoch <= floor(w)
        |         OR ('0x' || substr(md5(doc_id::VARCHAR || ':' || source), 1, 15))::BIGINT
        |            < (w - floor(w)) * 1152921504606846976.0)
        |SELECT epoch::INT AS epoch, doc_id, source,
        |       md5(epoch::VARCHAR || ':' || doc_id::VARCHAR) AS skey
        |FROM f ORDER BY epoch, skey, doc_id""".stripMargin),
    // Bit-length bucket (exact integer log2), content-keyed rank
    // within bucket, batch = rank div/mod batch size.
    Query("corpus_length_buckets", Documents.corpusLengthBuckets,
      """WITH s AS (SELECT doc_id,
        |             len(string_split(text, ' '))::BIGINT AS n_tokens,
        |             md5(text) AS h
        |           FROM documents),
        |b AS (SELECT doc_id, n_tokens, h,
        |        (length(ltrim(bin(n_tokens), '0')) - 1)::INT AS bucket
        |      FROM s),
        |r AS (SELECT doc_id, n_tokens, bucket,
        |        row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rn
        |      FROM b)
        |SELECT doc_id, n_tokens, bucket,
        |       ((rn - 1) // 8)::BIGINT AS batch_id,
        |       ((rn - 1) % 8)::INT AS pos
        |FROM r ORDER BY bucket, batch_id, pos""".stripMargin),
    // The derived previous release makes the diff closed-form: every
    // 50th doc missing (added), every 30th edited (changed), every
    // 70th also present under a phantom id (removed).
    Query("corpus_release_diff", Documents.corpusReleaseDiff,
      """WITH prev AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 30 = 0 THEN text || ' legacy'
        |              ELSE text END AS text
        |  FROM documents WHERE doc_id % 50 <> 0
        |  UNION ALL
        |  SELECT doc_id + 20000000, source, text FROM documents
        |  WHERE doc_id % 70 = 0),
        |c AS (SELECT doc_id, source AS src_c, md5(text) AS h_c FROM documents),
        |p AS (SELECT doc_id, source AS src_p, md5(text) AS h_p FROM prev),
        |j AS (SELECT coalesce(src_c, src_p) AS source,
        |        CASE WHEN h_p IS NULL THEN 'added'
        |             WHEN h_c IS NULL THEN 'removed'
        |             WHEN h_c <> h_p THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM c FULL OUTER JOIN p USING (doc_id))
        |SELECT source, status, count(*)::BIGINT AS n
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Order-independent per-shard integrity: bit_xor of 60-bit content
    // hashes; sums cast to BIGINT per the HUGEINT rule.
    Query("corpus_shard_manifest", Documents.corpusShardManifest,
      """WITH s AS (SELECT
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16 AS shard_id,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS content_h
        |  FROM documents)
        |SELECT shard_id, count(*)::BIGINT AS n_docs,
        |       sum(n_tokens)::BIGINT AS n_tokens,
        |       bit_xor(content_h)::BIGINT AS checksum
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("corpus_shuffle", Documents.corpusShuffle,
      """SELECT doc_id, md5(text || ':42') AS skey FROM documents
        |ORDER BY skey, doc_id LIMIT 200""".stripMargin),
    // The dedup_ngram_jaccard pair CTE joined to the doc_split map:
    // near-dup pairs whose endpoints fall in different splits.
    Query("corpus_split_leakage", Documents.corpusSplitLeakage,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT d1, d2,
        |        floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 AS jaccard
        |      FROM pairs JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6),
        |sp AS (SELECT doc_id,
        |         CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
        |              WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
        |              ELSE 'test' END AS split
        |       FROM documents)
        |SELECT j.d1, j.d2,
        |       least(a.split, b.split) AS split_a,
        |       greatest(a.split, b.split) AS split_b,
        |       j.jaccard
        |FROM j JOIN sp a ON j.d1 = a.doc_id JOIN sp b ON j.d2 = b.doc_id
        |WHERE a.split <> b.split
        |ORDER BY j.jaccard DESC, j.d1, j.d2""".stripMargin),
    // dedup_clusters' recursive CC chain; every member takes the
    // min-id root's split, the `moved` flag marks actual relocations.
    Query("corpus_split_leakfree", Documents.corpusSplitLeakFree,
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |e AS (SELECT d1, d2 FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6),
        |edges AS (SELECT d1 AS u, d2 AS v FROM e UNION SELECT d2, d1 FROM e),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
        |          WHERE e2.v <> r.u),
        |cl AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster
        |       FROM documents d LEFT JOIN reach r ON r.u = d.doc_id GROUP BY d.doc_id),
        |sp AS (SELECT doc_id,
        |         CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
        |              WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
        |              ELSE 'test' END AS own_split
        |       FROM documents)
        |SELECT m.doc_id, rs.own_split AS split,
        |       ms.own_split <> rs.own_split AS moved
        |FROM cl m JOIN sp ms ON m.doc_id = ms.doc_id
        |          JOIN sp rs ON m.cluster = rs.doc_id
        |ORDER BY m.doc_id""".stripMargin),
    // quotas via sqrt (IEEE-correctly-rounded in both engines, unlike
    // pow) and the floor(x+0.5) portable rounding; within-lang order is
    // the content-keyed (md5(text), doc_id) rank, as in corpus_reservoir.
    // z accumulates via a LEFT FOLD IN SORTED LANG ORDER (list_reduce
    // over list(... ORDER BY lang)) mirroring the Spark side's sorted
    // driver fold — an order-arbitrary sum(sqrt(c)) could differ by an
    // ulp and flip a quota sitting on a .5 floor boundary.
    Query("corpus_temperature_sample", Documents.corpusTemperatureSample,
      """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        |t AS (SELECT list_reduce(list(sqrt(c) ORDER BY lang),
        |                         (a, b) -> a + b) AS z,
        |             sum(c) AS n FROM c),
        |q AS (SELECT lang, floor(floor(n * 0.2 + 0.5) * sqrt(c) / z + 0.5)::BIGINT AS quota
        |      FROM c, t),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY md5(text), doc_id) AS rk
        |      FROM documents)
        |SELECT r.doc_id, r.lang, r.rk
        |FROM r JOIN q ON r.lang = q.lang
        |WHERE r.rk <= q.quota
        |ORDER BY r.lang, r.rk""".stripMargin),
    Query("corpus_token_budget", Documents.corpusTokenBudget,
      """WITH s AS (SELECT doc_id, source,
        |             len(string_split(text, ' '))::BIGINT AS n_tokens,
        |             md5(text) AS h
        |           FROM documents),
        |b AS (SELECT floor(sum(n_tokens) * 0.1 / count(DISTINCT source))::BIGINT
        |        AS src_budget FROM s),
        |c AS (SELECT doc_id, source, n_tokens,
        |        (sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |                             ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
        |      FROM s)
        |SELECT doc_id, source, n_tokens, cum_tokens
        |FROM c CROSS JOIN b
        |WHERE cum_tokens <= src_budget
        |ORDER BY source, cum_tokens""".stripMargin),
    Query("corpus_upsample", Documents.corpusUpsample,
      """WITH d AS (SELECT doc_id, lang, text,
        |  (CASE lang WHEN 'de' THEN 2 WHEN 'es' THEN 3 WHEN 'fr' THEN 1
        |             WHEN 'zh' THEN 0 ELSE 1 END
        |   + CASE WHEN substr(md5(text), 1, 2) <
        |       CASE lang WHEN 'de' THEN '80' WHEN 'es' THEN '40' WHEN 'fr' THEN '80'
        |                 WHEN 'zh' THEN 'c0' ELSE '00' END
        |     THEN 1 ELSE 0 END)::BIGINT AS n_copies
        |  FROM documents)
        |SELECT doc_id, lang, n_copies, unnest(range(1, n_copies + 1))::BIGINT AS copy
        |FROM d WHERE n_copies >= 1 ORDER BY doc_id, copy""".stripMargin),
    // The slim canonical reduce (winner picked on slim rows, text
    // anti-joined against the broadcast exception set): the oracle
    // replays the dedup_url canonicalization, carries url+text
    // through, and states each group's winner as the min (url, text)
    // row via a window — identical to the classic min_by, which is
    // exactly the equivalence the slim path must preserve.
    Query("crawl_canonical_reduce", Crawl.crawlCanonicalReduce,
      """WITH u AS (SELECT doc_id, text,
        |         'example.com/' || lang || '/r' || (doc_id % 500)::VARCHAR AS b,
        |         doc_id % 7 AS v, lang FROM documents),
        |raw AS (SELECT doc_id, text, CASE v
        |    WHEN 0 THEN 'https://' || b
        |    WHEN 1 THEN 'https://' || b || '?utm_source=x&utm_campaign=y'
        |    WHEN 2 THEN 'http://www.' || b || '/'
        |    WHEN 3 THEN 'https://' || b || '#section-2'
        |    WHEN 4 THEN 'https://' || b || '?b=2&a=1'
        |    WHEN 5 THEN 'https://' || b || '?a=1&b=2&gclid=tok'
        |    ELSE 'https://EXAMPLE.com/' || lang || '/r' || (doc_id % 500)::VARCHAR
        |  END AS url FROM u),
        |nf AS (SELECT url, text, regexp_replace(url, '#.*', '') AS s FROM raw),
        |parts AS (SELECT url, text,
        |    regexp_replace(lower(regexp_extract(s, '^[a-zA-Z]+://([^/?#]*).*', 1)),
        |                   '^www\.', '') AS host,
        |    regexp_extract(s, '^[a-zA-Z]+://[^/?#]*(.*)', 1) AS rest FROM nf),
        |pq AS (SELECT url, text, host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$', '') AS path,
        |    regexp_extract(rest, '\?(.*)', 1) AS q FROM parts),
        |kept AS (SELECT url, text, host, path,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      x -> NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)='))), '&') AS kp
        |  FROM pq),
        |c AS (SELECT url, text,
        |    'https://' || host || path ||
        |    CASE WHEN length(kp) > 0 THEN '?' || kp ELSE '' END AS canonical_url
        |  FROM kept)
        |SELECT canonical_url, url, text FROM (
        |  SELECT canonical_url, url, text,
        |         row_number() OVER (PARTITION BY canonical_url
        |                            ORDER BY url, text) AS rn FROM c)
        |WHERE rn = 1 ORDER BY canonical_url""".stripMargin),
    // Extraction inverts the deterministic page chrome exactly: head
    // (with a SKIP-marked title), in-body style and script blocks
    // (the script contains markup — the tag-stripper trap), nav and
    // footer chrome, entity escaping. The oracle states the result
    // over the raw text; any leak or mis-decode breaks every row.
    Query("crawl_html_extract", Crawl.crawlHtmlExtract,
      """SELECT doc_id,
        |       'Home | About Doc ' || doc_id::VARCHAR || ' ' ||
        |       trim(regexp_replace(text, '\s+', ' ', 'g')) ||
        |       ' © 2024 Example' AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin),
    // The composed front end in closed form: survivors are WARC-ok
    // (doc_id % 97 != 0) AND robots-allowed (r != k OR p = 3), grouped
    // by the canonical resource — the three URI surface variants all
    // collapse onto it, the doc id rides the EXTRACTED text, so every
    // stage is load-bearing in the hash.
    Query("crawl_pipeline", Crawl.crawlPipeline,
      """WITH d AS (SELECT doc_id, lang,
        |                  ascii(substr(lang, 1, 1)) % 5 AS k,
        |                  doc_id % 5 AS r, doc_id % 7 AS p
        |           FROM documents),
        |s AS (SELECT * FROM d WHERE doc_id % 97 != 0 AND (r != k OR p = 3))
        |SELECT 'https://' || lang || '.example.com/r' || r::VARCHAR ||
        |       '/p' || p::VARCHAR AS canonical_url,
        |       min(doc_id) AS keep_id, count(*)::BIGINT AS n_docs
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),
    // Robots compliance in closed form: the * group for lang-host
    // disallows /r{k} (k = ascii(lang[0]) mod 5) with a longer Allow
    // exception /r{k}/p3; decoy BadBot/Other groups must not apply.
    // allowed ⇔ the path escapes the disallow or hits the exception.
    Query("crawl_robots_filter", Crawl.crawlRobotsFilter,
      """WITH d AS (SELECT doc_id,
        |                  ascii(substr(lang, 1, 1)) % 5 AS k,
        |                  doc_id % 5 AS r, doc_id % 7 AS p
        |           FROM documents)
        |SELECT doc_id,
        |       '/r' || r::VARCHAR || '/p' || p::VARCHAR AS url_path,
        |       (r != k OR p = 3) AS allowed,
        |       CASE WHEN r = k AND p = 3 THEN '/r' || k::VARCHAR || '/p3'
        |            WHEN r = k THEN '/r' || k::VARCHAR
        |            ELSE '' END AS matched_rule
        |FROM d ORDER BY doc_id""".stripMargin),
    // WARC framing in closed form over the MIXED gzip/plain fixture:
    // survivors are exactly the docs that pass BOTH quarantine
    // classes — doc_id % 97 != 0 (the lying-Content-Length record,
    // WARC-level, inside either wrapper) and doc_id % 202 != 0 (the
    // flipped-deflate-byte gzip member, CRC-rejected whole; even ids
    // are the gzip-member half of the fixture) — with url/status
    // generator arithmetic and payload length = text length. A
    // framing, gzip-walk, header-parse, or resync bug changes rows or
    // lengths and breaks the hash.
    Query("crawl_warc_ingest", Crawl.crawlWarcIngest,
      """SELECT 'https://' || lang || '.example.com/warc/' || doc_id::VARCHAR AS url,
        |       200 AS status, length(text)::BIGINT AS n_chars
        |FROM documents WHERE doc_id % 97 != 0 AND doc_id % 202 != 0
        |ORDER BY url""".stripMargin),
    Query("dedup_cluster_keep", Documents.dedupClusterKeep,
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |e AS (SELECT d1, d2 FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6),
        |edges AS (SELECT d1 AS u, d2 AS v FROM e UNION SELECT d2, d1 FROM e),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
        |          WHERE e2.v <> r.u)
        |SELECT d.doc_id FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
        |GROUP BY d.doc_id
        |HAVING least(d.doc_id, coalesce(min(r.v), d.doc_id)) = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // the clusters chain, then size histogram: sum(n_docs) = |corpus|
    Query("dedup_cluster_stats", Documents.dedupClusterStats,
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |e AS (SELECT d1, d2 FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6),
        |edges AS (SELECT d1 AS u, d2 AS v FROM e UNION SELECT d2, d1 FROM e),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
        |          WHERE e2.v <> r.u),
        |cl AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster
        |       FROM documents d LEFT JOIN reach r ON r.u = d.doc_id GROUP BY d.doc_id),
        |sizes AS (SELECT cluster, count(*)::BIGINT AS cluster_size FROM cl GROUP BY 1)
        |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
        |       (cluster_size * count(*))::BIGINT AS n_docs
        |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("dedup_clusters", Documents.dedupClusters,
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |e AS (SELECT d1, d2 FROM p JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6),
        |edges AS (SELECT d1 AS u, d2 AS v FROM e UNION SELECT d2, d1 FROM e),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
        |          WHERE e2.v <> r.u)
        |SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster
        |FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin),
    Query("dedup_containment", Documents.dedupContainment,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, floor((common::DOUBLE / least(n1.n, n2.n)) * 10000 + 0.5) / 10000 AS containment
        |FROM pairs JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |WHERE floor((common::DOUBLE / least(n1.n, n2.n)) * 10000 + 0.5) / 10000 >= 0.8
        |ORDER BY d1, d2""".stripMargin),
    // Same pipeline with the df <= 10 stop-shingle cap: hot shingles
    // leave BOTH the pair counts and the per-doc sizes.
    Query("dedup_containment_capped", Documents.dedupContainmentCapped,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |sh AS (SELECT doc_id, s FROM sh0
        |       WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 10)),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT d1, d2, floor((common::DOUBLE / least(n1.n, n2.n)) * 10000 + 0.5) / 10000 AS containment
        |FROM pairs JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |WHERE floor((common::DOUBLE / least(n1.n, n2.n)) * 10000 + 0.5) / 10000 >= 0.8
        |ORDER BY d1, d2""".stripMargin),
    // Same md5 matrix replaying the banded near-dup path: b derived
    // from count(*) by integer ceil-log2 (bin-string length — matches
    // autoCosineBandBits's numberOfLeadingZeros exactly, no libm),
    // bands are bit-list slices at the packed word offsets, the
    // full-signature Hamming gate and exact cosine verify follow.
    // nBits ∈ {64,128} for b ∈ [16,32]; bits computes 128 and the gate
    // reads the first nbits — extra bits are dead weight, not skew.
    Query("dedup_embed_cosine", Embeddings.dedupEmbedCosine,
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |params AS (SELECT b, 64 // b AS perword,
        |             ((4 + (64 // b) - 1) // (64 // b)) * 64 AS nbits
        |           FROM (SELECT least(32, greatest(16,
        |                   length(ltrim(bin((SELECT count(*) FROM e) - 1), '0')) + 6)) AS b)),
        |params2 AS (SELECT b, perword, nbits,
        |              ceil(nbits * (acos(0.95) / pi())
        |                + 3 * sqrt(nbits * (acos(0.95) / pi())
        |                           * (1 - acos(0.95) / pi())))::INT AS maxham
        |            FROM params),
        |mat AS (SELECT p.p AS p,
        |          list(CASE WHEN substr(md5('sign:' || p.p || ':' || d.d), 1, 1)
        |                    IN ('1','3','5','7','9','b','d','f')
        |               THEN 1.0 ELSE -1.0 END ORDER BY d.d) AS srow
        |        FROM range(0, 128) p(p), range(0, 64) d(d) GROUP BY p.p),
        |bits AS (SELECT vec_id,
        |           list(CASE WHEN list_reduce(list_transform(range(1, 65),
        |                  i -> embedding[i]::DOUBLE * srow[i]), (a, b) -> a + b) > 0
        |                THEN 1 ELSE 0 END ORDER BY p) AS bits
        |         FROM e, mat GROUP BY vec_id),
        |banded AS (SELECT vec_id, bits, i.i AS band,
        |             list_slice(bits,
        |               (i.i // perword) * 64 + (i.i % perword) * b + 1,
        |               (i.i // perword) * 64 + (i.i % perword) * b + b) AS bv
        |           FROM bits, range(0, 4) i(i), params2),
        |cand AS (SELECT DISTINCT a.vec_id AS d1, c.vec_id AS d2
        |         FROM banded a, banded c, params2 p
        |         WHERE a.band = c.band AND a.bv = c.bv AND a.vec_id < c.vec_id
        |           AND list_sum(list_transform(range(1, p.nbits + 1),
        |                 i -> CASE WHEN a.bits[i] != c.bits[i] THEN 1 ELSE 0 END))
        |               <= p.maxham),
        |v AS (SELECT d1, d2,
        |        round(list_sum(list_transform(range(1, len(e1.embedding) + 1),
        |                i -> e1.embedding[i]::DOUBLE * e2.embedding[i]::DOUBLE))
        |          / (sqrt(list_sum(list_transform(e1.embedding, x -> x::DOUBLE * x::DOUBLE)))
        |           * sqrt(list_sum(list_transform(e2.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cos_sim
        |      FROM cand JOIN e e1 ON e1.vec_id = d1 JOIN e e2 ON e2.vec_id = d2)
        |SELECT d1, d2, cos_sim FROM v WHERE cos_sim >= 0.95 ORDER BY d1, d2""".stripMargin),
    Query("dedup_embed_cosine_exact", Embeddings.dedupEmbedCosineExact,
      """WITH e AS (SELECT vec_id, list_transform(embedding, v -> v::DOUBLE) AS emb
        |           FROM embeddings WHERE vec_id < 1000)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin),
    Query("dedup_exact", Documents.dedupExact,
      """SELECT min(doc_id) AS doc_id, text FROM documents
        |GROUP BY text ORDER BY doc_id""".stripMargin),
    Query("dedup_incremental", Documents.dedupIncrementalQ,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS common
        |      FROM sh a JOIN sh b ON a.s = b.s
        |      WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
        |      GROUP BY 1, 2)
        |SELECT new_id, corpus_id,
        |       floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 AS jaccard
        |FROM p JOIN n n1 ON new_id = n1.doc_id JOIN n n2 ON corpus_id = n2.doc_id
        |WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6
        |ORDER BY new_id, corpus_id""".stripMargin),
    Query("dedup_keep_list", Documents.dedupKeepList,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |drops AS (SELECT DISTINCT d2 FROM pairs
        |          JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |          WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6)
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT d2 FROM drops)
        |ORDER BY doc_id""".stripMargin),
    // LLM-pipeline oracles. dedup_minhash and dedup_simhash ARE hard
    // oracle rows since round 7: their hash family is md5, which DuckDB
    // reproduces exactly, so the oracle replays signature → banding →
    // candidates → verify. The learned-retrieval rows (embed_ann_ivf /
    // embed_pq / embed_ann_ivfpq / embed_pca) are driver-checkable since
    // round 11 via closed-form GATES (Embeddings.recallGate /
    // embedPcaGate): the Spark side reduces the learned path to
    // corpus-independent constants (shape counts + invariant booleans),
    // which the oracle states literally — n_queries it derives from the
    // parquet, the booleans are mathematical truths of any correct
    // implementation, and the raw top-k semantics stay pinned by the
    // `*_planted` clone twins plus EmbeddingsSpec's recall floors.
    Query("dedup_minhash", Documents.dedupMinhash,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |shl AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |        FROM toks WHERE len(t) >= 3),
        |hab AS (SELECT doc_id,
        |          list_transform(list_transform(sh, s -> md5(s)),
        |            m -> {'a': ('0x' || substr(m, 1, 15))::BIGINT % 2147483647,
        |                  'b': ('0x' || substr(m, 17, 15))::BIGINT % 2147483647}) AS hs
        |        FROM shl WHERE len(sh) > 0),
        |sigs AS (SELECT doc_id,
        |           list_transform(range(0, 16),
        |             i -> list_min(list_transform(hs, h -> (h.a + i * h.b) % 2147483647))) AS sig
        |         FROM hab),
        |banded AS (SELECT doc_id, unnest(range(0, 8)) AS b, sig FROM sigs),
        |bh AS (SELECT doc_id, b, sig[2*b + 1] AS h1, sig[2*b + 2] AS h2 FROM banded),
        |cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |          FROM bh a JOIN bh b
        |            ON a.b = b.b AND a.h1 = b.h1 AND a.h2 = b.h2
        |               AND a.doc_id < b.doc_id),
        |j AS (SELECT d1, d2,
        |        floor(len(list_intersect(s1.sh, s2.sh))::DOUBLE /
        |          (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) * 10000 + 0.5) / 10000 AS jaccard
        |      FROM cands JOIN shl s1 ON d1 = s1.doc_id JOIN shl s2 ON d2 = s2.doc_id)
        |SELECT d1, d2, jaccard FROM j WHERE jaccard >= 0.6
        |ORDER BY d1, d2""".stripMargin),
    Query("dedup_ngram_jaccard", Documents.dedupNgramJaccard, jaccardPairSql),
    // Staged wave sweep: identical oracle BY SHARED STRING — the waves
    // partition the shingle-hash space, so per-pair commons and hot
    // hits are plain sums over waves and the pair frame is
    // bit-identical to the single pass the SQL replays.
    Query("dedup_ngram_jaccard_staged", Documents.dedupNgramJaccardStaged, jaccardPairSql),
    // Planted-structure oracle: the query unions exact clones of every
    // 20th vector under vec_id + 10M; an exact clone provably shares
    // its original's k-means cell (identical argmax input) and its
    // cosine rounds to exactly 1.0, while every other pair stays under
    // τ=0.95 (background σ≈0.124). The true pair set is closed-form.
    Query("dedup_semantic", Embeddings.dedupSemantic,
      """SELECT vec_id AS id_a, (vec_id + 10000000)::BIGINT AS id_b,
        |       1.0::DOUBLE AS sim
        |FROM embeddings WHERE vec_id % 20 = 0 ORDER BY id_a, id_b""".stripMargin),
    Query("dedup_simhash", Documents.dedupSimhash,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |hs AS (SELECT doc_id,
        |         list_transform(t, tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS h
        |       FROM toks),
        |sig AS (SELECT doc_id,
        |          list_sum(list_transform(range(0, 60), b ->
        |            CASE WHEN list_sum(list_transform(h, x ->
        |                   CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |                 THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS s
        |        FROM hs),
        |banded AS (SELECT doc_id, s, unnest(range(0, 4)) AS b FROM sig),
        |bh AS (SELECT doc_id, s, b, (s >> (16 * b)::INT) & 65535 AS v FROM banded)
        |SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2,
        |       CAST(bit_count(xor(a.s, b2.s)) AS INT) AS hamming
        |FROM bh a JOIN bh b2
        |  ON a.b = b2.b AND a.v = b2.v AND a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.s, b2.s)) <= 3
        |ORDER BY d1, d2""".stripMargin),
    Query("dedup_simhash_wide", Documents.dedupSimhashWide,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |hab AS (SELECT doc_id,
        |          list_transform(list_transform(t, tok -> md5(tok)),
        |            m -> {'a': ('0x' || substr(m, 1, 15))::BIGINT,
        |                  'b': ('0x' || substr(m, 17, 15))::BIGINT}) AS h
        |        FROM toks),
        |sig AS (SELECT doc_id,
        |          list_sum(list_transform(range(0, 60), p ->
        |            CASE WHEN list_sum(list_transform(h, x ->
        |                   CASE WHEN (x.a >> p) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |                 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS s0,
        |          list_sum(list_transform(range(0, 60), p ->
        |            CASE WHEN list_sum(list_transform(h, x ->
        |                   CASE WHEN (x.b >> p) & 1 = 1 THEN 1 ELSE -1 END)) > 0
        |                 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS s1
        |        FROM hab),
        |banded AS (SELECT doc_id, s0, s1, unnest(range(0, 4)) AS b FROM sig),
        |bh AS (SELECT doc_id, s0, s1, b,
        |         ((CASE WHEN b < 2 THEN s0 ELSE s1 END) >> ((b * 32) % 64)::INT)
        |           & 4294967295 AS v
        |       FROM banded)
        |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
        |       CAST(bit_count(xor(x.s0, y.s0)) + bit_count(xor(x.s1, y.s1)) AS INT) AS hamming
        |FROM bh x JOIN bh y
        |  ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.s0, y.s0)) + bit_count(xor(x.s1, y.s1)) <= 6
        |ORDER BY d1, d2""".stripMargin),
    // The same pair CTE, joined back to sources and grouped; the mean
    // folds the sorted rounded scores (deterministic order both
    // engines) under the floor contract.
    Query("dedup_source_matrix", Documents.dedupSourceMatrixQ,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT d1, d2,
        |        floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 AS jaccard
        |      FROM pairs JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE floor((common::DOUBLE / (n1.n + n2.n - common)) * 10000 + 0.5) / 10000 >= 0.6),
        |m AS (SELECT least(a.source, b.source) AS src_a,
        |             greatest(a.source, b.source) AS src_b, j.jaccard
        |      FROM j JOIN documents a ON j.d1 = a.doc_id
        |             JOIN documents b ON j.d2 = b.doc_id)
        |SELECT src_a, src_b, count(*)::BIGINT AS n_pairs,
        |       floor(list_reduce(list_sort(list(jaccard)), (x, y) -> x + y)
        |             / count(*) * 10000 + 0.5) / 10000 AS mean_jaccard
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("dedup_substr_strip", Documents.dedupSubstrStrip,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS p, unnest(t) AS tok FROM toks),
        |g AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos,
        |        unnest(list_transform(range(1, len(t) - 6),
        |               i -> array_to_string(t[i:i+7], ' '))) AS gm FROM toks),
        |occ AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY gm) AS c,
        |          row_number() OVER (PARTITION BY gm ORDER BY doc_id, pos) AS rk
        |        FROM g),
        |drops AS (SELECT DISTINCT o.doc_id, o.pos + j AS p
        |          FROM occ o, (SELECT unnest(range(0, 8)) AS j)
        |          WHERE o.c > 1 AND o.rk > 1),
        |kept AS (SELECT tok.doc_id, tok.p, tok.tok FROM tok
        |         LEFT JOIN drops ON tok.doc_id = drops.doc_id AND tok.p = drops.p
        |         WHERE drops.doc_id IS NULL)
        |SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_stripped
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // URL canonicalization replayed step for step: same regexes (all
    // in the Java ∩ RE2 ∩ DuckDB subset; every one anchored or
    // match-to-end, so replace-first ≡ Spark's replace-all), same
    // split → filter → sort → join on the query params.
    Query("dedup_url", Documents.dedupUrl,
      """WITH u AS (SELECT doc_id,
        |         'example.com/' || lang || '/r' || (doc_id % 500)::VARCHAR AS b,
        |         doc_id % 7 AS v, lang FROM documents),
        |raw AS (SELECT doc_id, CASE v
        |    WHEN 0 THEN 'https://' || b
        |    WHEN 1 THEN 'https://' || b || '?utm_source=x&utm_campaign=y'
        |    WHEN 2 THEN 'http://www.' || b || '/'
        |    WHEN 3 THEN 'https://' || b || '#section-2'
        |    WHEN 4 THEN 'https://' || b || '?b=2&a=1'
        |    WHEN 5 THEN 'https://' || b || '?a=1&b=2&gclid=tok'
        |    ELSE 'https://EXAMPLE.com/' || lang || '/r' || (doc_id % 500)::VARCHAR
        |  END AS url FROM u),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS s FROM raw),
        |parts AS (SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(s, '^[a-zA-Z]+://([^/?#]*).*', 1)),
        |                   '^www\.', '') AS host,
        |    regexp_extract(s, '^[a-zA-Z]+://[^/?#]*(.*)', 1) AS rest FROM nf),
        |pq AS (SELECT doc_id, host,
        |    regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$', '') AS path,
        |    regexp_extract(rest, '\?(.*)', 1) AS q FROM parts),
        |kept AS (SELECT doc_id, host, path,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      x -> NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)='))), '&') AS kp
        |  FROM pq)
        |SELECT 'https://' || host || path ||
        |       CASE WHEN length(kp) > 0 THEN '?' || kp ELSE '' END AS canonical_url,
        |       min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_variants
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("doc_chunk", Documents.docChunk,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t, unnest(generate_series(1, len(t), 24)) AS start FROM t)
        |SELECT doc_id,
        |  ((start - 1) // 24)::BIGINT AS chunk_id,
        |  len(list_slice(t, start, start + 31))::INT AS n_tokens,
        |  array_to_string(list_slice(t, start, start + 31), ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin),
    Query("doc_decontaminate", Documents.docDecontaminate,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0)
        |SELECT DISTINCT c.doc_id FROM sh c JOIN ev ON c.s = ev.s
        |WHERE c.doc_id % 100 <> 0
        |ORDER BY doc_id""".stripMargin),
    // Same md5/Kirsch-Mitzenmacher replay as dedup_minhash, crossed
    // between the corpus (doc_id % 100 != 0) and the held-out eval
    // slice (doc_id % 100 == 0) at the fuzzy-decontamination bar.
    Query("doc_decontaminate_fuzzy", Documents.docDecontaminateFuzzy,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |shl AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |        FROM toks WHERE len(t) >= 3),
        |hab AS (SELECT doc_id,
        |          list_transform(list_transform(sh, s -> md5(s)),
        |            m -> {'a': ('0x' || substr(m, 1, 15))::BIGINT % 2147483647,
        |                  'b': ('0x' || substr(m, 17, 15))::BIGINT % 2147483647}) AS hs
        |        FROM shl WHERE len(sh) > 0),
        |sigs AS (SELECT doc_id,
        |           list_transform(range(0, 16),
        |             i -> list_min(list_transform(hs, h -> (h.a + i * h.b) % 2147483647))) AS sig
        |         FROM hab),
        |banded AS (SELECT doc_id, unnest(range(0, 8)) AS b, sig FROM sigs),
        |bh AS (SELECT doc_id, b, sig[2*b + 1] AS h1, sig[2*b + 2] AS h2 FROM banded),
        |cands AS (SELECT DISTINCT c.doc_id AS doc_id, e.doc_id AS eval_id
        |          FROM bh c JOIN bh e
        |            ON c.b = e.b AND c.h1 = e.h1 AND c.h2 = e.h2
        |               AND c.doc_id % 100 <> 0 AND e.doc_id % 100 = 0),
        |j AS (SELECT cands.doc_id AS doc_id, cands.eval_id AS eval_id,
        |        floor(len(list_intersect(s1.sh, s2.sh))::DOUBLE /
        |          (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) * 10000 + 0.5) / 10000 AS jaccard
        |      FROM cands JOIN shl s1 ON cands.doc_id = s1.doc_id
        |                 JOIN shl s2 ON cands.eval_id = s2.doc_id)
        |SELECT doc_id, eval_id, jaccard FROM j WHERE jaccard >= 0.5
        |ORDER BY doc_id, eval_id""".stripMargin),
    Query("doc_fingerprint", Documents.docFingerprint,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |fps AS (SELECT doc_id, min(md5(s)) AS fp_shingle FROM sh GROUP BY 1)
        |SELECT d.doc_id, md5(d.text) AS fp_md5, fps.fp_shingle
        |FROM documents d LEFT JOIN fps ON d.doc_id = fps.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    Query("doc_overlap_report", Documents.docOverlapReport,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s FROM toks),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh
        |        WHERE doc_id % 100 <> 0 GROUP BY 1),
        |hit AS (SELECT c.doc_id, count(*) AS n_overlap FROM sh c JOIN ev USING (s)
        |        WHERE c.doc_id % 100 <> 0 GROUP BY 1)
        |SELECT t.doc_id, t.n_shingles, h.n_overlap,
        |       floor((h.n_overlap::DOUBLE / t.n_shingles) * 10000 + 0.5) / 10000 AS overlap_frac
        |FROM tot t JOIN hit h ON t.doc_id = h.doc_id ORDER BY t.doc_id""".stripMargin),
    Query("doc_pack_sequences", Documents.docPackSequences,
      """WITH d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 512.0) AS BIGINT) AS bin
        |FROM d ORDER BY doc_id""".stripMargin),
    Query("doc_sample_hash", Documents.docSampleHash,
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(text), 1, 2) < '1a'
        |ORDER BY doc_id""".stripMargin),
    Query("doc_split", Documents.docSplit,
      """SELECT doc_id, lang,
        |  CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
        |       WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    // embed_ann_auto routes by measured clusteredness; on the driver
    // corpus the probe reads tightness ~0.5 (< 0.75 cut) and picks the
    // sketch path, so its true answer IS the lsh oracle. A corpus
    // change that flips the route turns this row red rather than
    // silently shifting recall.
    Query("embed_ann_auto", Embeddings.embedAnnAuto, annLshOracle),
    // The auto-router's IVF branch: the clustered-twin corpus flips the
    // route to IVF (EmbeddingsSpec pins the probe >= the cut), and the
    // planted clone is the closed-form rank-1 answer through that
    // branch's full fit -> assign -> probe -> score pipeline.
    Query("embed_ann_auto_clustered", Embeddings.embedAnnAutoClustered,
      """SELECT vec_id AS q_id, (vec_id + 10000000)::BIGINT AS vec_id,
        |       1.0::DOUBLE AS sim, 1::INT AS rnk
        |FROM embeddings WHERE vec_id < 10 ORDER BY q_id""".stripMargin),
    // Recall/invariant GATES for the learned-retrieval rows: every
    // emitted value is a corpus-independent constant (see the comment
    // at the head of this oracle block). n_queries/n_vectors come from
    // the parquet so the oracle is data-derived where it can be; the
    // booleans are stated constants whose Spark-side computation joins
    // the learned path against the hard-oracled brute-force fold.
    Query("embed_ann_ivf", Embeddings.embedAnnIvfGate,
      """SELECT 10 AS k,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 10)::BIGINT AS n_queries,
        |  true AS complete, true AS recall_ge_080""".stripMargin),
    // Same planted-clone recipe through the IVF quantizer: the clone
    // shares the query's top-1 cell, which every probe visits, and no
    // background vector comes near cosine 1.0 — rank 1 is closed-form.
    Query("embed_ann_ivf_planted", Embeddings.embedAnnIvfPlanted,
      """SELECT vec_id AS q_id, (vec_id + 10000000)::BIGINT AS vec_id,
        |       1.0::DOUBLE AS sim, 1::INT AS rnk
        |FROM embeddings WHERE vec_id < 10 ORDER BY q_id""".stripMargin),
    Query("embed_ann_ivfpq", Embeddings.embedAnnIvfPqGate,
      """SELECT 10 AS k,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 10)::BIGINT AS n_queries,
        |  true AS complete, true AS recall_ge_050""".stripMargin),
    // Same closed form through the composite IVF-PQ index: the clone's
    // codes equal the query's, its cells are a prefix of the probe
    // list, and the >=0.4 ADC margin carries it through the prerank.
    Query("embed_ann_ivfpq_planted", Embeddings.embedAnnIvfPqPlanted,
      """SELECT vec_id AS q_id, (vec_id + 10000000)::BIGINT AS vec_id,
        |       1.0::DOUBLE AS sim, 1::INT AS rnk
        |FROM embeddings WHERE vec_id < 10 ORDER BY q_id""".stripMargin),
    // Full replay of the sign-sketch ANN pipeline: the ±1 hyperplane
    // matrix is md5-derived (sign(p,d) = +1 iff first hex digit of
    // md5('sign:p:d') is odd — same recipe as dedup_minhash), dots are
    // left-fold list_reduce to mirror SignSketch's sequential j-loop
    // (sign extraction is exact-sensitive; identical IEEE op order ⇒
    // identical doubles), so signatures, Hamming prefilter, top-C and
    // exact rerank all reproduce value-for-value.
    Query("embed_ann_lsh", Embeddings.embedAnnLsh, annLshOracle),
    // Margin-based bitext mining replay: forward top-4 of each
    // even-label query vs the odd-label side, reverse top-4 of each
    // surviving candidate vs the even-label side, neighborhood means
    // folded in rank order (list_sum over the rank-ordered list = the
    // same sequential fold as Spark's aggregate()), margin under the
    // engine-exact floor(x*1e6+0.5)/1e6 contract.
    Query("embed_bitext_mine", Embeddings.embedBitextMine,
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
        |a AS (SELECT vec_id, embedding FROM e WHERE label % 2 = 0),
        |b AS (SELECT vec_id, embedding FROM e WHERE label % 2 = 1),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM a WHERE vec_id < 40),
        |fs AS (SELECT q_id, b.vec_id,
        |         round(list_sum(list_transform(range(1, len(q_emb) + 1),
        |                 i -> q_emb[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |           / (sqrt(list_sum(list_transform(q_emb, x -> x::DOUBLE * x::DOUBLE)))
        |            * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cs
        |       FROM q, b),
        |ft AS (SELECT q_id, vec_id, cs,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, vec_id ASC) AS rk
        |       FROM fs),
        |ftk AS (SELECT * FROM ft WHERE rk <= 4),
        |fa AS (SELECT q_id, list_sum(list(cs ORDER BY rk)) / 4 AS favg FROM ftk GROUP BY q_id),
        |ce AS (SELECT b.vec_id AS cand_id, b.embedding AS c_emb
        |       FROM b JOIN (SELECT DISTINCT vec_id FROM ftk) c USING (vec_id)),
        |rs AS (SELECT cand_id, a.vec_id,
        |         round(list_sum(list_transform(range(1, len(c_emb) + 1),
        |                 i -> c_emb[i]::DOUBLE * a.embedding[i]::DOUBLE))
        |           / (sqrt(list_sum(list_transform(c_emb, x -> x::DOUBLE * x::DOUBLE)))
        |            * sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS cs
        |       FROM ce, a),
        |rt AS (SELECT cand_id, vec_id, cs,
        |         row_number() OVER (PARTITION BY cand_id ORDER BY cs DESC, vec_id ASC) AS rk
        |       FROM rs),
        |ra AS (SELECT cand_id, list_sum(list(cs ORDER BY rk)) / 4 AS ravg
        |       FROM rt WHERE rk <= 4 GROUP BY cand_id),
        |m AS (SELECT f.q_id, f.vec_id AS match_id, f.cs,
        |        floor(f.cs / ((fa.favg + ra.ravg) / 2) * 1e6 + 0.5) / 1e6 AS margin
        |      FROM ftk f JOIN fa USING (q_id) JOIN ra ON ra.cand_id = f.vec_id),
        |r AS (SELECT q_id, match_id, cs, margin,
        |        row_number() OVER (PARTITION BY q_id ORDER BY margin DESC, match_id ASC) AS rn
        |      FROM m)
        |SELECT q_id, match_id, cs AS cos_sim, margin FROM r WHERE rn = 1
        |ORDER BY q_id""".stripMargin),
    Query("embed_centroid", Embeddings.embedCentroid,
      """WITH x AS (SELECT label,
        |             unnest(range(0, len(embedding))) AS pos,
        |             unnest(list_transform(embedding, v -> v::DOUBLE)) AS v
        |           FROM embeddings)
        |SELECT label, pos, round(avg(v), 6) AS v FROM x
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin),
    Query("embed_knn", Embeddings.embedKnn,
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id,
        |        round(list_sum(list_transform(range(1, len(q_emb) + 1),
        |                i -> q_emb[i]::DOUBLE * embedding[i]::DOUBLE))
        |          / (sqrt(list_sum(list_transform(q_emb, x -> x::DOUBLE * x::DOUBLE)))
        |           * sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS sim
        |      FROM q, e WHERE vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rnk FROM s)
        |SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin),
    Query("embed_knn_filtered", Embeddings.embedKnnFiltered,
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        |      FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id,
        |        round(list_sum(list_transform(range(1, len(q_emb) + 1),
        |                i -> q_emb[i]::DOUBLE * embedding[i]::DOUBLE))
        |          / (sqrt(list_sum(list_transform(q_emb, x -> x::DOUBLE * x::DOUBLE)))
        |           * sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS sim
        |      FROM q, e WHERE vec_id <> q_id AND label = q_label),
        |r AS (SELECT q_id, vec_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rnk FROM s)
        |SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin),
    // Same fold as embed_knn over the 16-dim Matryoshka prefix — the
    // list slice is the only difference, so prefix-vs-full ranking
    // divergence is attributable to the truncation alone.
    Query("embed_matryoshka", Embeddings.embedMatryoshka,
      """WITH e AS (SELECT vec_id, embedding[1:16] AS embedding FROM embeddings),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
        |s AS (SELECT q_id, vec_id,
        |        round(list_sum(list_transform(range(1, len(q_emb) + 1),
        |                i -> q_emb[i]::DOUBLE * embedding[i]::DOUBLE))
        |          / (sqrt(list_sum(list_transform(q_emb, x -> x::DOUBLE * x::DOUBLE)))
        |           * sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS sim
        |      FROM q, e WHERE vec_id <> q_id),
        |r AS (SELECT q_id, vec_id, sim,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rnk FROM s)
        |SELECT q_id, vec_id, sim, rnk FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin),
    Query("embed_outliers", Embeddings.embedOutliersQ,
      """WITH x AS (SELECT vec_id, label,
        |             unnest(range(0, len(embedding))) AS pos,
        |             unnest(list_transform(embedding, v -> v::DOUBLE)) AS v
        |           FROM embeddings),
        |c AS (SELECT label, pos, avg(v) AS cv FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, x.label, sqrt(sum((x.v - c.cv) * (x.v - c.cv))) AS dist
        |      FROM x JOIN c ON x.label = c.label AND x.pos = c.pos GROUP BY 1, 2),
        |s AS (SELECT label, avg(dist) AS mu, stddev_samp(dist) AS sd FROM d GROUP BY 1)
        |SELECT d.vec_id, d.label, round(d.dist, 4) AS dist,
        |       round((d.dist - s.mu) / s.sd, 4) AS z
        |FROM d JOIN s ON d.label = s.label
        |WHERE round((d.dist - s.mu) / s.sd, 4) > 2.0
        |ORDER BY d.label, d.vec_id""".stripMargin),
    Query("embed_pca", Embeddings.embedPcaGate,
      """SELECT 16 AS d, (SELECT count(*) FROM embeddings)::BIGINT AS n_vectors,
        |  true AS basis_orthonormal, true AS centered,
        |  true AS spectrum_nonincreasing, true AS var_captured_ge_uniform""".stripMargin),
    Query("embed_pca_planted", Embeddings.embedPcaPlanted,
      """SELECT vec_id AS q_id, (vec_id + 10000000)::BIGINT AS vec_id,
        |       1.0::DOUBLE AS sim, 1::INT AS rnk
        |FROM embeddings WHERE vec_id < 10 ORDER BY q_id""".stripMargin),
    Query("embed_pq", Embeddings.embedPqGate,
      """SELECT 10 AS k,
        |  (SELECT count(*) FROM embeddings WHERE vec_id < 10)::BIGINT AS n_queries,
        |  true AS complete, true AS recall_ge_050""".stripMargin),
    // Same closed form through the PQ codebook (clone survives the
    // code pre-rank by a >=0.4 reconstruction-cosine margin) and the
    // PCA projection (identical vectors project identically: projected
    // cosine is exactly 1, the provable maximum).
    Query("embed_pq_planted", Embeddings.embedPqPlanted,
      """SELECT vec_id AS q_id, (vec_id + 10000000)::BIGINT AS vec_id,
        |       1.0::DOUBLE AS sim, 1::INT AS rnk
        |FROM embeddings WHERE vec_id < 10 ORDER BY q_id""".stripMargin),
    Query("embed_quantize", Embeddings.embedQuantize,
      """WITH e AS (SELECT vec_id, embedding,
        |             list_min(embedding) AS mn, list_max(embedding) AS mx
        |           FROM embeddings),
        |x AS (SELECT vec_id, mn, mx,
        |        unnest(range(0, len(embedding))) AS pos,
        |        unnest(embedding) AS v
        |      FROM e)
        |SELECT vec_id, CAST(pos AS INT) AS pos,
        |  CASE WHEN mx = mn THEN 0
        |       ELSE CAST(round((v::DOUBLE - mn::DOUBLE) / (mx::DOUBLE - mn::DOUBLE) * 255) AS INT)
        |  END AS q
        |FROM x ORDER BY vec_id, pos""".stripMargin),
    Query("filter_and", Relational.filterAnd,
      """SELECT l_orderkey, l_quantity, l_discount FROM lineitem
        |WHERE l_quantity >= 30 AND l_discount < 0.03
        |ORDER BY l_orderkey, l_quantity, l_discount""".stripMargin),
    Query("filter_date_range", Relational.filterDateRange,
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
        |ORDER BY o_orderkey, o_orderdate""".stripMargin),
    Query("filter_ne_string", Relational.filterNeString,
      """SELECT l_orderkey, l_linestatus FROM lineitem
        |WHERE l_linestatus <> 'F'
        |ORDER BY l_orderkey, l_linestatus""".stripMargin),
    Query("filter_or", Relational.filterOr,
      """SELECT l_orderkey, l_returnflag, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' OR l_quantity > 45
        |ORDER BY l_orderkey, l_returnflag, l_quantity""".stripMargin),
    Query("group_unpivot", Relational.groupUnpivot,
      """SELECT l_orderkey, l_linenumber, 'discount' AS metric, l_discount AS value
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
        |FROM lineitem WHERE l_orderkey < 100
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'quantity', l_quantity
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),
    // Replays the admission cap exactly: earliest 20 events per
    // one-second bucket by (us, event_id), then the same band join.
    Query("join_range_capped", Relational.joinRangeCapped,
      """WITH e0 AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |r AS (SELECT event_id, user_id, us,
        |        row_number() OVER (PARTITION BY us // 1000000
        |                           ORDER BY us, event_id) AS rn
        |      FROM e0),
        |e AS (SELECT event_id, user_id, us FROM r WHERE rn <= 20)
        |SELECT a.event_id AS e1, b.event_id AS e2, b.us - a.us AS diff_us
        |FROM e a JOIN e b
        |  ON b.us >= a.us AND b.us < a.us + 1000000
        | AND (a.us < b.us OR a.event_id < b.event_id)
        | AND a.user_id <> b.user_id
        |ORDER BY e1, e2""".stripMargin),
    Query("join_theta", Relational.joinTheta,
      """SELECT s.s_suppkey, s.s_nationkey, n.n_nationkey
        |FROM supplier s JOIN nation n ON s.s_nationkey < n.n_nationkey
        |ORDER BY s_suppkey, s_nationkey, n_nationkey""".stripMargin),
    // Bin-centered two-tone fixture: zero spectral leakage, so the
    // radix-2 FFT's top-2 magnitude bins are closed forms of the
    // generator arithmetic — quantization noise sits ~5 orders of
    // magnitude under the lines, and the outputs are integers.
    Query("multimodal_audio_features", Multimodal.multimodalAudioFeatures(_, _),
      """SELECT doc_id, (3 + doc_id % 100)::INT AS peak_bin,
        |       (110 + doc_id % 17)::INT AS second_bin
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin),
    // Ramp-WAV decimation replay: kept frames are range(0, nF, 4);
    // each kept sample is ((31f + 17c + id) mod 65536) - 32768.
    Query("multimodal_audio_sample", Multimodal.multimodalAudioSample(_, _),
      """WITH d AS (SELECT doc_id,
        |             8000 + (doc_id % 8) * 1000 AS rate,
        |             1 + doc_id % 2 AS channels,
        |             100 + doc_id % 100 AS nf
        |           FROM documents WHERE doc_id < 500),
        |f AS (SELECT doc_id, rate, channels, nf,
        |        unnest(range(0, nf, 4)) AS fr FROM d),
        |s AS (SELECT doc_id, rate, channels, nf, fr,
        |        unnest(range(0, channels)) AS c FROM f)
        |SELECT doc_id, (rate // 4)::INT AS out_rate, channels::INT AS channels,
        |  ((nf + 3) // 4)::INT AS n_frames_out,
        |  sum((31 * fr + 17 * c + doc_id) % 65536 - 32768)::BIGINT AS sample_sum
        |FROM s GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin),
    // The stub tier's fake dims + content_hash are closed forms of the
    // first 60 bits of md5(media); the payload is the document's UTF-8
    // text, so md5(text) replays the whole decode row (same 15-hex-char
    // recipe as the dedup family). Hard oracle since round 9.
    Query("multimodal_decode", Multimodal.multimodalDecode,
      """WITH p AS (SELECT d.doc_id,
        |             ('0x' || substr(md5(d.text), 1, 15))::BIGINT AS h
        |           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
        |SELECT doc_id,
        |       (64 + (h % 512))::INT AS width,
        |       (64 + ((h // 512) % 512))::INT AS height,
        |       1::INT AS n_frames,
        |       h AS content_hash
        |FROM p ORDER BY doc_id""".stripMargin),
    // DuckDB recomputes MediaEncoder.forId's closed-form dims straight
    // from doc_id; Spark's side had to round-trip them through REAL
    // BMP/PNG/WAV bytes (encode → header parse), so a hash match proves
    // the actual decoders, not the arithmetic.
    Query("multimodal_decode_real", Multimodal.multimodalDecodeReal,
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 8 + doc_id % 32
        |                  WHEN 1 THEN 16 + doc_id % 64
        |                  WHEN 2 THEN 8000 + (doc_id % 8) * 1000
        |                  ELSE 12 + doc_id % 48 END AS width,
        |  CASE doc_id % 4 WHEN 0 THEN 8 + (doc_id // 32) % 32
        |                  WHEN 1 THEN 16 + (doc_id // 64) % 64
        |                  WHEN 2 THEN 1 + doc_id % 2
        |                  ELSE 12 + (doc_id // 48) % 48 END AS height,
        |  CASE doc_id % 4 WHEN 0 THEN 1
        |                  WHEN 1 THEN CASE (doc_id // 3) % 3
        |                                WHEN 0 THEN 1 WHEN 1 THEN 3
        |                                ELSE 4 END
        |                  WHEN 2 THEN 1 + doc_id % 50
        |                  ELSE CASE (doc_id // 4) % 2 WHEN 0 THEN 1 ELSE 3 END END AS n_frames
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin),
    // Audio twin: frame-duplication resample provably preserves the
    // aHash (floor-of-floor frame picks), so planted pairs sit at
    // Hamming 0 and the textured background (min non-planted distance
    // measured by the tools.GateProbe main, source at commit f4abc46)
    // keeps false pairs out of the <= 4
    // gate — the same closed-form contract as the phash row.
    Query("multimodal_dedup_ahash", Multimodal.multimodalDedupAhash(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // GIF twin: LZW round trip is lossless for palette images, so the
    // 2x-upscale clone's dHash survives by the floor identity — each
    // planted pair at Hamming 0 in closed form; interlaced encodes on
    // both sides put the 4-pass path on the oracle; background floor
    // spec-measured on the row's own grayscale population.
    Query("multimodal_dedup_gif", Multimodal.multimodalDedupGif(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // Cross-format twin: the progressive and baseline encoders
    // quantize identical coefficients and successive approximation is
    // lossless at Al=0, so the two frame types decode bit-identically
    // — each planted pair (same pixels saved SOF2 vs SOF0, both
    // directions) sits at Hamming 0 in closed form; background floor
    // 13 measured through the lossy pipe (the tools.JpegProbe main,
    // source at commit f4abc46).
    Query("multimodal_dedup_jpeg_progressive", Multimodal.multimodalDedupJpegProgressive(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // Perceptual image dedup, planted-structure closed form: each
    // doc_id < 10 image is re-encoded at 2x resolution under
    // doc_id + 10M; the nearest-neighbor floor identity makes the
    // clone's dHash EXACTLY the original's (Hamming 0), while the
    // nearest non-planted pair sits at measured Hamming 14 — far
    // above the <= 4 gate — so the planted pairs ARE the answer.
    Query("multimodal_dedup_phash", Multimodal.multimodalDedupPhash(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // Lossy-format twin: the clone re-encodes the DECODED jpeg pixels
    // LOSSLESSLY (png), so the floor identity pins Hamming 0 in closed
    // form no matter what quantization did; background floor 13
    // measured through the full lossy pipe (the tools.JpegProbe main,
    // source at commit f4abc46).
    Query("multimodal_dedup_phash_jpeg", Multimodal.multimodalDedupPhashJpeg(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // Real-PNG twin: the zlib encode → sniff-decode → defilter chain
    // must land every pixel exactly (the 2x-upscale floor identity
    // then pins the planted pair at Hamming 0), and the pixel content
    // equals the BMP tier's, so the measured background floor
    // (Hamming 14) keeps false pairs out of the <= 4 gate.
    Query("multimodal_dedup_phash_png", Multimodal.multimodalDedupPhashPng(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // Full-matrix PNG twin: palette lookup, Adam7 deinterlace, 16-bit
    // high-byte and depth-4 gray scaling are all LOSSLESS for this
    // population, so a re-encode in any other variant decodes
    // bit-identically and each planted cross-variant pair sits at
    // Hamming 0 in closed form; background floor spec-measured on the
    // row's own grayscale population.
    Query("multimodal_dedup_png_palette", Multimodal.multimodalDedupPngPalette(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // Video twin: 2x-fps frame duplication preserves the temporal
    // hash exactly (the audio floor-of-floor identity on frame
    // indices), so planted pairs sit at Hamming 0; per-frame byte
    // sums of hash textures give the binomial-tail background
    // (pairwise floor asserted on the query's own population in
    // MultimodalSpec).
    Query("multimodal_dedup_vhash", Multimodal.multimodalDedupVhash(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // Compressed-video twin: the clone frame-duplicates the DECODED
    // MJPEG frames at 2x fps and re-encodes losslessly (raw DIB), so
    // the floor-of-floor identity pins Hamming 0 in closed form no
    // matter what per-frame quantization did; every base signature
    // runs the full RIFF+JPEG decode, background floor spec-measured.
    Query("multimodal_dedup_video_mjpeg", Multimodal.multimodalDedupVideoMjpeg(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // Resolution-rescale twin: every sampled frame's dHash survives
    // the 2x upscale exactly (the image floor identity frame by
    // frame), so each planted pair matches on all 8 position-aligned
    // witnesses; background frame hashes sit at the image tier's
    // measured separation, so no non-planted pair reaches 6 votes.
    Query("multimodal_dedup_video_rescale", Multimodal.multimodalDedupVideoRescale(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 8 AS matched_frames
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // WebM twin, same differential epistemics as webp_lossy: the
    // expected pairs were frozen from libwebp's decoded Y planes
    // (tools/gen_webm_fixtures.py), so the row passes only if the
    // EBML container walk yields exactly the muxed key frames and the
    // from-scratch VP8 decode matches the reference decoder. Planted
    // structure: ids 10..19 = q55 requants of clips 0..9; ids 20..24
    // = 2x-fps duplications of clips 0..4 (also pairing with their
    // q55 twins) — all at tHash Hamming 0, background floor 23.
    Query("multimodal_dedup_webm", Multimodal.multimodalDedupWebm(_, _),
      """SELECT v.d1, v.d2, v.hamming
        |FROM (VALUES
        |  (0::BIGINT, 10::BIGINT, 0::BIGINT), (0::BIGINT, 20::BIGINT, 0::BIGINT),
        |  (1::BIGINT, 11::BIGINT, 0::BIGINT), (1::BIGINT, 21::BIGINT, 0::BIGINT),
        |  (2::BIGINT, 12::BIGINT, 0::BIGINT), (2::BIGINT, 22::BIGINT, 0::BIGINT),
        |  (3::BIGINT, 13::BIGINT, 0::BIGINT), (3::BIGINT, 23::BIGINT, 0::BIGINT),
        |  (4::BIGINT, 14::BIGINT, 0::BIGINT), (4::BIGINT, 24::BIGINT, 0::BIGINT),
        |  (5::BIGINT, 15::BIGINT, 0::BIGINT), (6::BIGINT, 16::BIGINT, 0::BIGINT),
        |  (7::BIGINT, 17::BIGINT, 0::BIGINT), (8::BIGINT, 18::BIGINT, 0::BIGINT),
        |  (9::BIGINT, 19::BIGINT, 0::BIGINT), (10::BIGINT, 20::BIGINT, 0::BIGINT),
        |  (11::BIGINT, 21::BIGINT, 0::BIGINT), (12::BIGINT, 22::BIGINT, 0::BIGINT),
        |  (13::BIGINT, 23::BIGINT, 0::BIGINT), (14::BIGINT, 24::BIGINT, 0::BIGINT)
        |) v(d1, d2, hamming)
        |JOIN documents doc ON doc.doc_id = v.d1
        |ORDER BY v.d1, v.d2""".stripMargin),
    // WebP twin: VP8L is lossless, so the 2x-upscale clone's dHash
    // survives by the floor identity — each planted pair at Hamming 0
    // in closed form; SUBTRACT_GREEN on half the population puts the
    // transform inverse on the oracle path, and WebpSpec's
    // libwebp-encoded golden corpus pins spec compliance (predictors,
    // palettes, cache, plane-coded LZ77) beyond the fixture subset.
    Query("multimodal_dedup_webp", Multimodal.multimodalDedupWebp(_, _),
      """SELECT doc_id AS d1, (doc_id + 10000000)::BIGINT AS d2, 0 AS hamming
        |FROM documents WHERE doc_id < 10 ORDER BY d1, d2""".stripMargin),
    // LOSSY WebP twin — a DIFFERENTIAL oracle: the expected pairs were
    // frozen from the REFERENCE libwebp decoder's Y planes
    // (tools/gen_vp8_fixtures.py), so the row passes only if the
    // from-scratch VP8 decoder reconstructs every committed fixture
    // byte-identically to libwebp and the banded Hamming join recalls
    // each requantized twin (content designed to hold planted pairs at
    // Hamming 0 through q75→q55; background floor 19 measured and
    // asserted in Vp8Spec). The documents join anchors the fixture ids
    // to the corpus (ids < 30 exist at every sf).
    Query("multimodal_dedup_webp_lossy", Multimodal.multimodalDedupWebpLossy(_, _),
      """SELECT v.d1, v.d2, v.hamming
        |FROM (VALUES
        |  (0::BIGINT, 20::BIGINT, 0::BIGINT), (1::BIGINT, 21::BIGINT, 0::BIGINT),
        |  (2::BIGINT, 22::BIGINT, 0::BIGINT), (3::BIGINT, 23::BIGINT, 0::BIGINT),
        |  (4::BIGINT, 24::BIGINT, 0::BIGINT), (5::BIGINT, 25::BIGINT, 0::BIGINT),
        |  (6::BIGINT, 26::BIGINT, 0::BIGINT), (7::BIGINT, 27::BIGINT, 0::BIGINT),
        |  (8::BIGINT, 28::BIGINT, 0::BIGINT), (9::BIGINT, 29::BIGINT, 0::BIGINT)
        |) v(d1, d2, hamming)
        |JOIN documents doc ON doc.doc_id = v.d1
        |ORDER BY v.d1, v.d2""".stripMargin),
    Query("multimodal_pack", Multimodal.multimodalPack,
      """SELECT d.doc_id, octet_length(d.text::BLOB) AS n_bytes, d.lang,
        |       len(e.embedding) AS dim, e.label
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin),
    // Closed-form replay of decode -> nearest-neighbor resize ->
    // re-encode: thumbnail pixel (i,j) samples gradient pixel
    // (i*w//8, j*h//8), whose B/G/R bytes are arithmetic in
    // (doc_id, x, y). Spark sums the ACTUAL re-encoded thumbnail's
    // bytes; a padding / row-order / channel bug breaks the compare.
    Query("multimodal_thumbnail", Multimodal.multimodalThumbnail(_, _),
      """WITH d AS (SELECT doc_id, 8 + doc_id % 32 AS w, 8 + (doc_id // 32) % 32 AS h
        |           FROM documents WHERE doc_id < 500),
        |g AS (SELECT doc_id,
        |        (ti.i * w) // 8 AS sx, (tj.j * h) // 8 AS sy
        |      FROM d, range(0, 8) AS ti(i), range(0, 8) AS tj(j))
        |SELECT doc_id, 8 AS out_w, 8 AS out_h,
        |  sum((7 * sx + 13 * sy + doc_id) % 256 + (3 * sx + 5 * sy) % 256
        |      + (sx + sy) % 256)::BIGINT AS pix_sum,
        |  246 AS thumb_bytes
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    // Closed-form gradient replay: every surviving byte of the
    // decimated, re-encoded clip is an arithmetic function of
    // (doc_id, frame, x, y) — frame indexing, row flip and padding
    // bugs all break the hash compare.
    Query("multimodal_video_sample", Multimodal.multimodalVideoSample(_, _),
      """WITH d AS (SELECT doc_id, 8 + doc_id % 8 AS w, 8 + (doc_id // 8) % 8 AS h,
        |                  6 + doc_id % 10 AS n
        |           FROM documents WHERE doc_id < 200),
        |fr AS (SELECT doc_id, w, h, unnest(range(0, n, 3)) AS f FROM d),
        |fx AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x FROM fr),
        |fxy AS (SELECT doc_id, f, x, y.y, w, h FROM fx,
        |        LATERAL (SELECT unnest(range(0, h)) AS y) y),
        |sums AS (SELECT doc_id,
        |    sum((7*x + 13*y + 5*f + doc_id) % 256 + (3*x + 5*y + 11*f) % 256 +
        |        (x + y + f) % 256)::BIGINT AS pix_sum
        |  FROM fxy GROUP BY doc_id)
        |SELECT d.doc_id, w::INT AS width, h::INT AS height,
        |       ((n + 2) // 3)::INT AS n_frames_out, 4 AS fps_out, pix_sum
        |FROM d JOIN sums ON d.doc_id = sums.doc_id ORDER BY d.doc_id""".stripMargin),
    Query("pipeline_curate", Documents.pipelineCurate,
      """WITH w AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |d AS (SELECT d.doc_id, d.lang, d.source, d.text, string_split(d.text, ' ') AS t
        |      FROM documents d JOIN w USING (doc_id)),
        |s AS (SELECT doc_id, lang, source, text, len(t)::BIGINT AS n_tokens,
        |  floor((length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text)) * 10000 + 0.5) / 10000 AS alpha_frac,
        |  floor((len(list_distinct(t))::DOUBLE / len(t)) * 10000 + 0.5) / 10000 AS distinct_frac,
        |  floor((least(len(t)::DOUBLE / 64.0, 1.0)) * 10000 + 0.5) / 10000 AS len_frac,
        |  floor((len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'in')))::DOUBLE / len(t)) * 10000 + 0.5) / 10000 AS stop_ratio
        |  FROM d),
        |q AS (SELECT doc_id, lang, source, text, n_tokens,
        |  floor((alpha_frac * 0.3 + distinct_frac * 0.3 + len_frac * 0.2
        |        + least(stop_ratio * 5, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS quality FROM s)
        |SELECT doc_id, lang, source, n_tokens, quality
        |FROM q WHERE quality >= 0.55 AND n_tokens >= 8 AND substr(md5(text), 1, 2) < 'd0'
        |ORDER BY doc_id""".stripMargin),
    Query("q2_filter_sort", Relational.q2FilterSort,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderdate > TIMESTAMP '1995-01-01 00:00:00'
        |ORDER BY o_totalprice ASC, o_orderkey ASC""".stripMargin),
    Query("scalar_funcs", Relational.scalarFuncs,
      """SELECT o_orderkey,
        |       upper(substr(o_orderpriority, 1, 4)) AS prio4,
        |       CAST(year(o_orderdate) AS INT) AS yr,
        |       CAST(month(o_orderdate) AS INT) AS mo,
        |       round(sqrt(o_totalprice), 4) AS sqrt_price,
        |       CAST(length(o_orderpriority) AS INT) AS prio_len
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin),
    Query("set_except", Relational.setExcept,
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin),
    Query("set_intersect", Relational.setIntersect,
      """SELECT l_orderkey AS okey FROM lineitem WHERE l_quantity > 48
        |INTERSECT
        |SELECT o_orderkey AS okey FROM orders WHERE o_totalprice > 300000
        |ORDER BY okey""".stripMargin),
    Query("sort_desc", Relational.sortDesc,
      """SELECT l_extendedprice, l_orderkey FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey DESC""".stripMargin),
    Query("text_bigram_surprisal", Documents.textBigramSurprisal,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |p AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |        i -> {'w1': t[i], 'w2': t[i+1]})) AS z
        |      FROM toks WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, z.w1 AS w1, z.w2 AS w2 FROM p),
        |cb AS (SELECT w1, w2, count(*) AS nb FROM bg GROUP BY 1, 2),
        |cw AS (SELECT w1, sum(nb) AS nw FROM cb GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(-ln(nb::DOUBLE / nw)), 4) AS avg_surprisal
        |FROM bg JOIN cb USING (w1, w2) JOIN cw USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("text_boilerplate", Documents.textBoilerplate(_, _),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle FROM toks)
        |SELECT shingle, count(*) AS df FROM sh GROUP BY 1
        |ORDER BY df DESC, shingle LIMIT 20""".stripMargin),
    // Same unrolled 3-round training (words/b1/b2/b3 CTEs identical to
    // text_bpe_train), then the ENCODE half: each DISTINCT corpus word
    // (single-letter words included — training needs pairs, encoding
    // doesn't) through the same three double-space literal replaces,
    // token counts joined back to the (doc_id, word) stream.
    Query("text_bpe_encode", Documents.textBpeEncode,
      """WITH words AS (
        |  SELECT w, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        |        FROM documents)
        |  WHERE length(w) >= 2 GROUP BY 1
        |), seg0 AS (
        |  SELECT ' ' || array_to_string(
        |           list_transform(range(1, length(w) + 1), i -> w[i]), '  ')
        |         || ' ' AS seg, c
        |  FROM words
        |), p1 AS (
        |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
        |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
        |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
        |                                 x -> x <> '') AS t, c FROM seg0))
        |  GROUP BY 1, 2
        |), b1 AS (SELECT lhs, rhs, cnt FROM p1 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |seg1 AS (
        |  SELECT coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(s.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', s.seg) AS seg, s.c
        |  FROM seg0 s LEFT JOIN b1 b ON true
        |), p2 AS (
        |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
        |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
        |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
        |                                 x -> x <> '') AS t, c FROM seg1))
        |  GROUP BY 1, 2
        |), b2 AS (SELECT lhs, rhs, cnt FROM p2 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |seg2 AS (
        |  SELECT coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(s.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', s.seg) AS seg, s.c
        |  FROM seg1 s LEFT JOIN b2 b ON true
        |), p3 AS (
        |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
        |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
        |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
        |                                 x -> x <> '') AS t, c FROM seg2))
        |  GROUP BY 1, 2
        |), b3 AS (SELECT lhs, rhs, cnt FROM p3 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |dw AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE w <> ''
        |), e0 AS (
        |  SELECT w, ' ' || array_to_string(
        |           list_transform(range(1, length(w) + 1), i -> w[i]), '  ')
        |         || ' ' AS seg
        |  FROM (SELECT DISTINCT w FROM dw)
        |), e1 AS (
        |  SELECT w, coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(e.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', e.seg) AS seg
        |  FROM e0 e LEFT JOIN b1 b ON true
        |), e2 AS (
        |  SELECT w, coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(e.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', e.seg) AS seg
        |  FROM e1 e LEFT JOIN b2 b ON true
        |), e3 AS (
        |  SELECT w, coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(e.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', e.seg) AS seg
        |  FROM e2 e LEFT JOIN b3 b ON true
        |), wt AS (
        |  SELECT w, len(list_filter(regexp_split_to_array(seg, ' +'),
        |                            x -> x <> ''))::BIGINT AS w_toks
        |  FROM e3
        |)
        |SELECT dw.doc_id, count(*)::BIGINT AS n_words,
        |       sum(wt.w_toks)::BIGINT AS n_bpe_tokens
        |FROM dw JOIN wt USING (w)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("text_bpe_merges", Documents.textBpeMerges,
      """WITH words AS (
        |  SELECT w, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        |        FROM documents)
        |  WHERE length(w) >= 2 GROUP BY 1
        |), pos AS (
        |  SELECT w, c, unnest(generate_series(1, length(w) - 1)) AS i FROM words
        |)
        |SELECT substr(w, i, 2) AS pair, sum(c)::BIGINT AS cnt
        |FROM pos GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 30""".stripMargin),
    // Unrolled 3-round greedy BPE training over the word histogram.
    // The double-space segmentation encoding makes a single literal
    // replace equal the greedy pairwise merge fold in BOTH engines
    // (shared scan-original / continue-after-match semantics) — see
    // Documents.bpeTrain's Scaladoc.
    Query("text_bpe_train", Documents.textBpeTrain,
      """WITH words AS (
        |  SELECT w, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        |        FROM documents)
        |  WHERE length(w) >= 2 GROUP BY 1
        |), seg0 AS (
        |  SELECT ' ' || array_to_string(
        |           list_transform(range(1, length(w) + 1), i -> w[i]), '  ')
        |         || ' ' AS seg, c
        |  FROM words
        |), p1 AS (
        |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
        |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
        |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
        |                                 x -> x <> '') AS t, c FROM seg0))
        |  GROUP BY 1, 2
        |), b1 AS (SELECT lhs, rhs, cnt FROM p1 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |seg1 AS (
        |  SELECT coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(s.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', s.seg) AS seg, s.c
        |  FROM seg0 s LEFT JOIN b1 b ON true
        |), p2 AS (
        |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
        |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
        |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
        |                                 x -> x <> '') AS t, c FROM seg1))
        |  GROUP BY 1, 2
        |), b2 AS (SELECT lhs, rhs, cnt FROM p2 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |seg2 AS (
        |  SELECT coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(s.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', s.seg) AS seg, s.c
        |  FROM seg1 s LEFT JOIN b2 b ON true
        |), p3 AS (
        |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
        |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
        |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
        |                                 x -> x <> '') AS t, c FROM seg2))
        |  GROUP BY 1, 2
        |), b3 AS (SELECT lhs, rhs, cnt FROM p3 ORDER BY cnt DESC, lhs, rhs LIMIT 1)
        |SELECT step, lhs, rhs, lhs || rhs AS merged, cnt FROM (
        |  SELECT 1 AS step, * FROM b1
        |  UNION ALL SELECT 2, * FROM b2
        |  UNION ALL SELECT 3, * FROM b3
        |) ORDER BY step""".stripMargin),
    // Train CTEs as in text_bpe_train, one more rewrite (seg3 = b3
    // applied), then the token inventory weighted by word counts.
    Query("text_bpe_vocab", Documents.textBpeVocab,
      """WITH words AS (
        |  SELECT w, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        |        FROM documents)
        |  WHERE length(w) >= 2 GROUP BY 1
        |), seg0 AS (
        |  SELECT ' ' || array_to_string(
        |           list_transform(range(1, length(w) + 1), i -> w[i]), '  ')
        |         || ' ' AS seg, c
        |  FROM words
        |), p1 AS (
        |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
        |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
        |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
        |                                 x -> x <> '') AS t, c FROM seg0))
        |  GROUP BY 1, 2
        |), b1 AS (SELECT lhs, rhs, cnt FROM p1 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |seg1 AS (
        |  SELECT coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(s.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', s.seg) AS seg, s.c
        |  FROM seg0 s LEFT JOIN b1 b ON true
        |), p2 AS (
        |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
        |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
        |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
        |                                 x -> x <> '') AS t, c FROM seg1))
        |  GROUP BY 1, 2
        |), b2 AS (SELECT lhs, rhs, cnt FROM p2 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |seg2 AS (
        |  SELECT coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(s.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', s.seg) AS seg, s.c
        |  FROM seg1 s LEFT JOIN b2 b ON true
        |), p3 AS (
        |  SELECT t[j] AS lhs, t[j + 1] AS rhs, sum(c)::BIGINT AS cnt
        |  FROM (SELECT t, c, unnest(range(1, len(t))) AS j
        |        FROM (SELECT list_filter(regexp_split_to_array(seg, ' +'),
        |                                 x -> x <> '') AS t, c FROM seg2))
        |  GROUP BY 1, 2
        |), b3 AS (SELECT lhs, rhs, cnt FROM p3 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |seg3 AS (
        |  SELECT coalesce(' ' || array_to_string(list_filter(regexp_split_to_array(
        |           replace(s.seg, ' ' || b.lhs || '  ' || b.rhs || ' ',
        |                   ' ' || b.lhs || b.rhs || ' '),
        |           ' +'), x -> x <> ''), '  ') || ' ', s.seg) AS seg, s.c
        |  FROM seg2 s LEFT JOIN b3 b ON true
        |)
        |SELECT tok, sum(c)::BIGINT AS cnt FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(seg, ' +'),
        |                            x -> x <> '')) AS tok, c
        |  FROM seg3)
        |GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 50""".stripMargin),
    Query("text_dup_passages", Documents.textDupPassages,
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tt AS (SELECT doc_id, t FROM toks WHERE len(t) >= 8),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
        |        i -> array_to_string(t[i:i+7], ' '))) AS gm FROM tt),
        |c AS (SELECT gm, count(*) AS c FROM g GROUP BY 1),
        |d AS (SELECT doc_id, count(*) AS dup_grams FROM g JOIN c USING (gm)
        |      WHERE c.c > 1 GROUP BY 1)
        |SELECT tt.doc_id, len(tt.t) - 7 AS n_grams,
        |       coalesce(d.dup_grams, 0) AS dup_grams,
        |       floor((coalesce(d.dup_grams, 0)::DOUBLE / (len(tt.t) - 7)) * 10000 + 0.5) / 10000 AS dup_frac
        |FROM tt LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin),
    Query("text_gopher_rules", Documents.textGopherRules,
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |  len(toks) AS n_words,
        |  floor((length(text) - (len(toks) - 1))::DOUBLE / len(toks) * 10000 + 0.5) / 10000 AS mean_word_len,
        |  floor(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(toks) * 10000 + 0.5) / 10000 AS alpha_word_frac,
        |  floor(len(list_filter(toks, x -> NOT regexp_matches(x, '[a-zA-Z0-9]')))::DOUBLE / len(toks) * 10000 + 0.5) / 10000 AS symbol_word_frac,
        |  len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'in'))) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_word_frac,
        |  n_stopwords,
        |  n_words BETWEEN 30 AND 100000 AS ok_word_count,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
        |  alpha_word_frac >= 0.8 AS ok_alpha,
        |  symbol_word_frac <= 0.1 AS ok_symbol,
        |  n_stopwords >= 2 AS ok_stopwords,
        |  (n_words BETWEEN 30 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND alpha_word_frac >= 0.8 AND symbol_word_frac <= 0.1
        |    AND n_stopwords >= 2 AS pass
        |FROM m ORDER BY doc_id""".stripMargin),
    // The sketch only generates candidates; the registered result is
    // the EXACT heavy-hitter set (superset guarantee + exact re-count),
    // so the oracle is the plain exact formulation.
    Query("text_heavy_hitters", Documents.textHeavyHitters,
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT count(*) AS total FROM toks)
        |SELECT tok, count(*) AS cnt FROM toks CROSS JOIN n
        |GROUP BY tok, total HAVING count(*) * 100 > total
        |ORDER BY tok""".stripMargin),
    Query("text_langid", Documents.textLangId,
      """WITH t AS (SELECT doc_id, lang,
        |             string_split_regex(lower(text), '[^a-z]+') AS tk
        |           FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |  len(list_filter(tk, x -> x IN ('the','and','of','is','with'))) AS s_en,
        |  len(list_filter(tk, x -> x IN ('el','la','los','es','y'))) AS s_es,
        |  len(list_filter(tk, x -> x IN ('le','la','les','est','et'))) AS s_fr,
        |  len(list_filter(tk, x -> x IN ('de','shi','bu','le','wo'))) AS s_zh
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'unk'
        |       WHEN s_zh >= greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
        |       WHEN s_fr >= greatest(s_de, s_en, s_es) THEN 'fr'
        |       WHEN s_es >= greatest(s_de, s_en) THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin),
    // Same classifier CTE as text_langid, aggregated to the matrix.
    Query("text_langid_confusion", Documents.textLangIdConfusion,
      """WITH t AS (SELECT doc_id, lang,
        |             string_split_regex(lower(text), '[^a-z]+') AS tk
        |           FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |  len(list_filter(tk, x -> x IN ('the','and','of','is','with'))) AS s_en,
        |  len(list_filter(tk, x -> x IN ('el','la','los','es','y'))) AS s_es,
        |  len(list_filter(tk, x -> x IN ('le','la','les','est','et'))) AS s_fr,
        |  len(list_filter(tk, x -> x IN ('de','shi','bu','le','wo'))) AS s_zh
        |  FROM t),
        |p AS (SELECT lang,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'unk'
        |       WHEN s_zh >= greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
        |       WHEN s_fr >= greatest(s_de, s_en, s_es) THEN 'fr'
        |       WHEN s_es >= greatest(s_de, s_en) THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |  FROM s)
        |SELECT lang, lang_pred, count(*) AS n
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("text_normalize", Documents.textNormalize,
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_emails,
        |  len(regexp_extract_all(text, 'https?://[^ ]+'))::INT AS n_urls,
        |  len(regexp_extract_all(text, '[0-9]{6,}'))::INT AS n_nums,
        |  trim(regexp_replace(lower(regexp_replace(regexp_replace(regexp_replace(text,
        |      'https?://[^ ]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{6,}', '<NUM>', 'g')), ' {2,}', ' ', 'g')) AS text_norm
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("text_pmi", Documents.textPmi,
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |toks AS (SELECT unnest(t) AS tok FROM t),
        |uni AS (SELECT tok, count(*) AS cu FROM toks GROUP BY 1),
        |nu AS (SELECT count(*) AS nu FROM toks),
        |bg AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |       FROM t WHERE len(t) >= 2),
        |cb AS (SELECT bigram, count(*) AS cb FROM bg GROUP BY 1 HAVING count(*) >= 5),
        |nb AS (SELECT count(*) AS nb FROM bg),
        |s AS (SELECT bigram, cb, string_split(bigram, ' ')[1] AS w1,
        |             string_split(bigram, ' ')[2] AS w2 FROM cb)
        |SELECT s.bigram, s.cb AS n_pair,
        |  round(ln((s.cb::DOUBLE / nb.nb) / ((u1.cu::DOUBLE / nu.nu) * (u2.cu::DOUBLE / nu.nu))), 4) AS pmi
        |FROM s JOIN uni u1 ON s.w1 = u1.tok JOIN uni u2 ON s.w2 = u2.tok
        |CROSS JOIN nu CROSS JOIN nb
        |ORDER BY pmi DESC, s.bigram LIMIT 20""".stripMargin),
    Query("text_quality", Documents.textQuality,
      """WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, lang,
        |  floor((length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text)) * 10000 + 0.5) / 10000 AS alpha_frac,
        |  floor((len(list_distinct(t))::DOUBLE / len(t)) * 10000 + 0.5) / 10000 AS distinct_frac,
        |  floor((least(len(t)::DOUBLE / 64.0, 1.0)) * 10000 + 0.5) / 10000 AS len_frac,
        |  floor((len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'in')))::DOUBLE / len(t)) * 10000 + 0.5) / 10000 AS stop_ratio
        |  FROM t)
        |SELECT doc_id, lang, alpha_frac, distinct_frac, len_frac, stop_ratio,
        |  floor((alpha_frac * 0.3 + distinct_frac * 0.3 + len_frac * 0.2
        |        + least(stop_ratio * 5, 1.0) * 0.2) * 10000 + 0.5) / 10000 AS quality
        |FROM s ORDER BY doc_id""".stripMargin),
    // Feature-hashed linear scorer: integer formula weights keep the
    // per-doc sum BIGINT-exact; quality is one division of exact
    // integers — the identical double in both engines.
    Query("text_quality_model", Documents.textQualityModel,
      """WITH w AS (SELECT i AS bucket, (i * 37 + 11) % 101 - 50 AS wt
        |           FROM (SELECT unnest(range(1024)) AS i)),
        |tok AS (SELECT doc_id,
        |          ('0x' || substr(md5(t), 1, 15))::BIGINT % 1024 AS bucket
        |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |              FROM documents)),
        |s AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |             sum(wt)::BIGINT AS score_sum
        |      FROM tok JOIN w USING (bucket) GROUP BY 1)
        |SELECT doc_id, n_tokens, score_sum,
        |       CAST(score_sum AS DOUBLE) / n_tokens AS quality
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("text_repetition", Documents.textRepetition,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |         i -> t[i] || ' ' || t[i+1])) AS g FROM t),
        |cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS top_c, sum(c)::BIGINT AS n_bigrams FROM cnt GROUP BY 1),
        |tri AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 3 THEN floor((1.0 - len(list_distinct(list_transform(range(1, len(t) - 1),
        |       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))::DOUBLE / (len(t) - 2)) * 10000 + 0.5) / 10000
        |  ELSE 0.0 END AS dup_trigram_frac FROM t)
        |SELECT tri.doc_id,
        |  coalesce(top.n_bigrams, 0)::BIGINT AS n_bigrams,
        |  coalesce(floor((top.top_c::DOUBLE / top.n_bigrams) * 10000 + 0.5) / 10000, 0.0) AS top_bigram_frac,
        |  tri.dup_trigram_frac
        |FROM tri LEFT JOIN top ON tri.doc_id = top.doc_id
        |ORDER BY tri.doc_id""".stripMargin),
    Query("text_stats", Documents.textStats,
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS t, text FROM documents)
        |SELECT doc_id, lang,
        |  len(t) AS n_tokens_ws,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS n_tokens_re,
        |  floor((length(replace(text, ' ', ''))::DOUBLE / len(t)) * 10000 + 0.5) / 10000 AS avg_tok_len,
        |  floor((len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'in')))::DOUBLE / len(t)) * 10000 + 0.5) / 10000 AS stop_ratio
        |FROM t ORDER BY doc_id""".stripMargin),
    Query("text_surprisal", Documents.textSurprisal,
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |u AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS total FROM toks)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(avg(-ln(tf::DOUBLE / total)), 4) AS avg_surprisal
        |FROM toks JOIN u USING (tok) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("text_tfidf", Documents.textTfidf,
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, tok, tf, tf * ln(n_docs::DOUBLE / df) AS score
        |      FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
        |r AS (SELECT doc_id, tok, tf, score,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rnk
        |      FROM s)
        |SELECT doc_id, tok, tf::BIGINT AS tf, round(score, 4) AS tfidf, rnk
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    Query("text_token_count", Documents.textTokenCount,
      """WITH c AS (SELECT doc_id,
        |             len(string_split(text, ' ')) AS n_ws_tokens,
        |             len(regexp_extract_all(text,
        |               ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS n_bpe_tokens
        |           FROM documents)
        |SELECT doc_id, n_ws_tokens, n_bpe_tokens,
        |       floor(n_bpe_tokens::DOUBLE / n_ws_tokens * 10000 + 0.5) / 10000 AS bpe_ratio
        |FROM c ORDER BY doc_id""".stripMargin),
    Query("text_tokens", Documents.textTokens,
      """WITH c AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |g AS (SELECT lang, tok, count(*) AS n FROM c GROUP BY 1, 2),
        |r AS (SELECT lang, tok, n,
        |        row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS rnk FROM g)
        |SELECT lang, tok, n, rnk FROM r WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin),
    // Encode replay: b2 already holds every distinct histogram word's
    // Viterbi-best segmentation under the final scores — per-doc piece
    // counts are one join from the (>=2-letter) doc-word stream.
    Query("text_unigram_encode", Documents.textUnigramEncode,
      s"""$unigramFitSql,
        |ut AS (
        |  SELECT w, len(string_split(seg, ' '))::BIGINT AS w_toks FROM b2
        |), udw AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        |    FROM documents)
        |  WHERE length(w) >= 2
        |)
        |SELECT udw.doc_id, count(*)::BIGINT AS n_words,
        |       sum(ut.w_toks)::BIGINT AS n_unigram_tokens
        |FROM udw JOIN ut USING (w)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Unigram-LM trainer replay: the oracle ENUMERATES every
    // segmentation of every histogram word with a recursive CTE
    // (affordable: the corpus vocabulary is 30 words of <= 8 chars)
    // and takes the same integer-scored argmax as the Spark Viterbi
    // DP — quantized micro-nat lp, tie-break (score DESC, pieces ASC,
    // seg ASC) — through 2 unrolled hard-EM rounds. All-integer
    // scoring makes the argmax engine-exact; ln's shared ulp behavior
    // is the only float, verified by the tri-scale hash compare.
    // The fit chain is SHARED (unigramFitSql) with the vocab and
    // encode rows, which read v1 (the deployable scores) and b2 (the
    // final segmentations) off the same replay.
    Query("text_unigram_train", Documents.textUnigramTrain,
      s"""$unigramFitSql
        |SELECT tok, cnt, rnk FROM (
        |  SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk FROM c2)
        |WHERE rnk <= 30 ORDER BY rnk""".stripMargin),
    // Vocab artifact: the final counts (c2) joined to the deployable
    // integer micro-nat scores (v1) — same fit replay, top 50.
    Query("text_unigram_vocab", Documents.textUnigramVocab,
      s"""$unigramFitSql
        |SELECT tok, cnt, lp FROM (
        |  SELECT c2.tok, c2.cnt, v1.lp,
        |         row_number() OVER (ORDER BY c2.cnt DESC, c2.tok ASC) AS rn
        |  FROM c2 JOIN v1 ON c2.tok = v1.tok)
        |WHERE rn <= 50 ORDER BY cnt DESC, tok ASC""".stripMargin),
    // Train chain, then greedy longest-match replayed relationally:
    // the per-(word, position) maximal jump is a plain aggregate over
    // word-position x vocab, and a recursive CTE walks the jumps —
    // exactly the maximal-munch loop the Spark side runs per distinct
    // word.
    Query("text_wordpiece_encode", Documents.textWordpieceEncode, ("WITH RECURSIVE " + wpTrainCtes +
      """, dw AS (
        |  SELECT DISTINCT w
        |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        |        FROM documents)
        |  WHERE w <> ''
        |), vocab AS (
        |  SELECT DISTINCT CASE WHEN i = 1 THEN w[1] ELSE '##' || w[i] END AS tok
        |  FROM (SELECT w, unnest(range(1, length(w) + 1)) AS i FROM dw)
        |  UNION SELECT lhs || substr(rhs, 3) FROM b1
        |  UNION SELECT lhs || substr(rhs, 3) FROM b2
        |  UNION SELECT lhs || substr(rhs, 3) FROM b3
        |), jumps AS (
        |  SELECT p.w, p.pos,
        |         max(CASE WHEN p.pos = 1 THEN length(v.tok)
        |                  ELSE length(v.tok) - 2 END)::BIGINT AS pl
        |  FROM (SELECT w, unnest(range(1, length(w) + 1)) AS pos FROM dw) p
        |  JOIN vocab v ON
        |    (p.pos = 1 AND v.tok NOT LIKE '##%' AND
        |     v.tok = substr(p.w, 1, length(v.tok)))
        |    OR (p.pos > 1 AND v.tok LIKE '##%' AND
        |        substr(v.tok, 3) = substr(p.w, p.pos::INT, length(v.tok) - 2))
        |  GROUP BY 1, 2
        |), walk AS (
        |  SELECT w, 1::BIGINT AS pos, 0::BIGINT AS n FROM dw
        |  UNION ALL
        |  SELECT walk.w, walk.pos + j.pl, walk.n + 1
        |  FROM walk JOIN jumps j ON j.w = walk.w AND j.pos = walk.pos
        |  WHERE walk.pos <= length(walk.w)
        |), wt AS (SELECT w, n FROM walk WHERE pos = length(w) + 1),
        |docw AS (
        |  SELECT doc_id, w
        |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        |        FROM documents)
        |  WHERE w <> ''
        |)
        |SELECT doc_id, count(*)::BIGINT AS n_words, sum(n)::BIGINT AS n_wp_tokens
        |FROM docw JOIN wt USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // The WordPiece trainer replayed round for round (wpTrainCtes):
    // the likelihood argmax is one IEEE division of exact BIGINTs, so
    // both engines rank candidates bit-identically; merged strips the
    // right piece's continuation mark.
    Query("text_wordpiece_train", Documents.textWordpieceTrain, ("WITH " + wpTrainCtes +
      """ SELECT step, lhs, rhs, lhs || substr(rhs, 3) AS merged, cnt FROM (
        |  SELECT 1 AS step, * FROM b1
        |  UNION ALL SELECT 2, * FROM b2
        |  UNION ALL SELECT 3, * FROM b3
        |) ORDER BY step""".stripMargin)),
    // Train chain + the final segmentation's marked token inventory —
    // the vocab.txt a BERT release ships.
    Query("text_wordpiece_vocab", Documents.textWordpieceVocab, ("WITH " + wpTrainCtes +
      """ SELECT tok, sum(c)::BIGINT AS cnt FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(seg, ' +'),
        |                            x -> x <> '')) AS tok, c
        |  FROM seg3)
        |GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 50""".stripMargin)),
    Query("tpch_q11_stock", Relational.tpchQ11Stock,
      s"""WITH $partsuppCte,
        |v AS (SELECT ps.ps_partkey,
        |             sum(ps.ps_cost_cents * ps.ps_availqty)::BIGINT AS vc
        |      FROM partsupp ps
        |      JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        |      JOIN nation n ON s.s_nationkey = n.n_nationkey
        |      WHERE n.n_name = 'NATION_7'
        |      GROUP BY 1),
        |t AS (SELECT 1.5 * (CAST(sum(vc)::BIGINT AS DOUBLE) / count(*)) AS cut
        |      FROM v)
        |SELECT ps_partkey, vc / 100.0 AS value
        |FROM v, t WHERE vc > cut
        |ORDER BY value DESC, ps_partkey""".stripMargin),
    Query("tpch_q12_priority", Relational.tpchQ12Priority,
      """SELECT l_linestatus,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |             THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |             THEN 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("tpch_q13_distribution", Relational.tpchQ13Distribution,
      """WITH cc AS (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |            FROM customer c LEFT JOIN
        |              (SELECT o_orderkey, o_custkey FROM orders
        |               WHERE o_orderpriority <> '1-URGENT') o
        |              ON c.c_custkey = o.o_custkey
        |            GROUP BY 1)
        |SELECT c_count, count(*) AS custdist FROM cc
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Query("tpch_q14_promo", Relational.tpchQ14Promo,
      """SELECT round(100.0 *
        |  sum(CASE WHEN p_type = 'PROMO'
        |           THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
        |  / sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin),
    Query("tpch_q15_top_supplier", Relational.tpchQ15TopSupplier,
      """WITH rev AS (SELECT l_suppkey,
        |               sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |                              * 100.0 + 0.5) AS BIGINT))::BIGINT
        |                 AS rev_cents
        |             FROM lineitem
        |             WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |               AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |             GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, rev.rev_cents / 100.0 AS total_revenue
        |FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
        |WHERE rev.rev_cents = (SELECT max(rev_cents) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin),
    Query("tpch_q16_supplier_cnt", Relational.tpchQ16SupplierCnt,
      s"""WITH $partsuppCte
        |SELECT p.p_brand, p.p_type, p.p_size,
        |       count(DISTINCT ps.ps_suppkey) AS supplier_cnt
        |FROM partsupp ps JOIN part p ON ps.ps_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND ps.ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                            WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    Query("tpch_q17_small_qty", Relational.tpchQ17SmallQty,
      """SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN (SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
        |      FROM lineitem GROUP BY 1) a ON l.l_partkey = a.a_partkey
        |WHERE p.p_brand = 'Brand#13' AND p.p_size = 5
        |  AND l.l_quantity < 0.2 * a.avg_qty""".stripMargin),
    Query("tpch_q19_brand", Relational.tpchQ19Brand,
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 21)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
    Query("tpch_q20_promotion", Relational.tpchQ20Promotion,
      s"""WITH $partsuppCte
        |SELECT s.s_suppkey, s.s_name
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND s.s_suppkey IN (
        |    SELECT ps.ps_suppkey
        |    FROM partsupp ps
        |    JOIN part p ON ps.ps_partkey = p.p_partkey
        |    JOIN (SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        |          FROM lineitem
        |          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |          GROUP BY 1, 2) q
        |      ON ps.ps_partkey = q.l_partkey AND ps.ps_suppkey = q.l_suppkey
        |    WHERE p.p_name LIKE 'small%'
        |      AND ps.ps_availqty > 0.5 * q.qty)
        |ORDER BY s.s_name""".stripMargin),
    Query("tpch_q21_waiting", Relational.tpchQ21Waiting,
      """WITH lines AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |         l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |l1 AS (SELECT l_orderkey, l_suppkey FROM lines WHERE late)
        |SELECT s.s_name, count(*)::BIGINT AS numwait
        |FROM l1
        |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE n.n_name = 'NATION_3'
        |  AND EXISTS (SELECT 1 FROM lines l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lines l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY 1 ORDER BY numwait DESC, s_name ASC LIMIT 20""".stripMargin),
    Query("tpch_q22_opportunity", Relational.tpchQ22Opportunity,
      """WITH cust AS (SELECT c_custkey,
        |                CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents,
        |                c_nationkey % 10 AS cntrycode
        |              FROM customer
        |              WHERE c_nationkey % 10 IN (1, 3, 5, 7, 9)),
        |ab AS (SELECT CAST(sum(bal_cents)::BIGINT AS DOUBLE) / count(*) AS avg_cents
        |       FROM cust WHERE bal_cents > 0)
        |SELECT cntrycode, count(*)::BIGINT AS numcust,
        |       sum(bal_cents)::BIGINT / 100.0 AS totacctbal
        |FROM cust, ab
        |WHERE CAST(bal_cents AS DOUBLE) > avg_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = cust.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("tpch_q2_min_cost", Relational.tpchQ2MinCost,
      s"""WITH $partsuppCte,
        |eur AS (SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        |        FROM supplier s
        |        JOIN nation n ON s.s_nationkey = n.n_nationkey
        |        JOIN region r ON n.n_regionkey = r.r_regionkey
        |        WHERE r.r_name = 'EUROPE'),
        |c AS (SELECT ps.ps_partkey, ps.ps_cost_cents,
        |             e.s_acctbal, e.s_name, e.n_name
        |      FROM partsupp ps JOIN eur e ON ps.ps_suppkey = e.s_suppkey),
        |m AS (SELECT ps_partkey AS m_partkey, min(ps_cost_cents) AS min_cents
        |      FROM c GROUP BY 1)
        |SELECT c.s_acctbal, c.s_name, c.n_name, p.p_partkey,
        |       c.ps_cost_cents / 100.0 AS ps_supplycost
        |FROM c
        |JOIN part p ON c.ps_partkey = p.p_partkey
        |JOIN m ON c.ps_partkey = m.m_partkey AND c.ps_cost_cents = m.min_cents
        |WHERE p.p_type = 'STANDARD' AND p.p_size <= 15
        |ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, p.p_partkey
        |LIMIT 100""".stripMargin),
    Query("tpch_q4_priority", Relational.tpchQ4Priority,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Query("tpch_q6_forecast", Relational.tpchQ6Forecast,
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    Query("tpch_q8_share", Relational.tpchQ8Share,
      """SELECT year(o.o_orderdate) AS o_year,
        |  round(sum(CASE WHEN n2.n_name = 'NATION_2'
        |                 THEN l.l_extendedprice * (1.0 - l.l_discount)
        |                 ELSE 0.0 END)
        |    / sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS mkt_share
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |JOIN region r ON n1.n_regionkey = r.r_regionkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |WHERE p.p_type = 'PROMO' AND r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("tpch_q9_profit", Relational.tpchQ9Profit,
      s"""WITH $partsuppCte,
        |profit AS (
        |  SELECT n.n_name AS nation, year(o.o_orderdate)::INT AS o_year,
        |         CAST(floor((l.l_extendedprice * (1.0 - l.l_discount)
        |                - (ps.ps_cost_cents / 100.0) * l.l_quantity)
        |               * 100.0 + 0.5) AS BIGINT) AS amount_cents
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  JOIN partsupp ps ON l.l_partkey = ps.ps_partkey
        |                  AND l.l_suppkey = ps.ps_suppkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE p.p_name LIKE 'red%')
        |SELECT nation, o_year, sum(amount_cents)::BIGINT / 100.0 AS sum_profit
        |FROM profit GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin),
  )
}
