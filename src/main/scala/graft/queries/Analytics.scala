package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import QueryDef._

/** Block A — core relational/analytics coverage (SURVEY.md §2.A).
  *
  * Everything here is declarative DataFrame API so Catalyst does pushdown,
  * pruning, join selection and AQE re-planning. Small dimensions are
  * explicitly broadcast. Every aggregate that touches money is computed in
  * DECIMAL(18,2) then emitted as DOUBLE (see QueryDef.moneySum) so results
  * are order-independent and hash-match the DuckDB oracle exactly.
  */
object Analytics {

  /** TPC-H Q1-style pricing summary: scan → filter → hash agg → sort. */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
          * (lit(1) + dec(col("l_tax")))).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Predicate pushdown + column pruning: the physical scan must show
    * PushedFilters on l_shipdate/l_discount/l_quantity and a 4-col ReadSchema.
    */
  def q2FilterProj(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount") > 0.05 && col("l_quantity") < 24)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")

  val q2FilterProjSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount > 0.05 AND l_quantity < 24""".stripMargin

  /** TPC-H Q3-style: 3-way join, agg, top-k. Revenue ties broken by key. */
  def q3JoinTopk(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp")
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  }

  val q3JoinTopkSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5-style 5-way join; dims broadcast, fact joins shuffle on keys. */
  def q5Multijoin(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      // supplier scales with the data (SF×10k rows) — no explicit broadcast;
      // AQE decides at runtime from actual sizes. nation/region are
      // fixed-size dims, safe to force.
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  val q5MultijoinSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Left semi join (EXISTS): customers with at least one big order. */
  def qSemijoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
        .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")

  val qSemijoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  /** Left anti join (NOT EXISTS): customers with no 'P' status orders. */
  def qAntijoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "P")
        .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_acctbal")

  val qAntijoinSql: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** Left outer join + null-safe aggregation. */
  def qOuterJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("order_count"),
        coalesce(sum(dec(col("o_totalprice"))), lit(0).cast(Money))
          .cast("double").as("total_spent"))

  val qOuterJoinSql: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS order_count,
      |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Window functions: row_number, lag, running (decimal-exact) sum. */
  def qWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        row_number().over(w).as("rn"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
  }

  val qWindowSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  ROW_NUMBER() OVER w AS rn,
      |  LAG(o_orderkey, 1) OVER w AS prev_order,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin

  /** The rest of the ranking/distribution window family in one pass:
    * dense_rank, ntile, percent_rank, cume_dist, first/last value over
    * one shared (partition, order) — one shuffle + one sort serves all
    * six (WindowExec evaluates co-partitioned frames together). The
    * ordering key is made total (date, orderkey) so rank families are
    * deterministic and peer-sensitive functions (cume_dist) agree
    * across engines.
    */
  def qWindowFamily(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        dense_rank().over(w).as("drk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prk"),
        cume_dist().over(w).as("cd"),
        first_value(col("o_orderkey")).over(whole).as("first_order"),
        last_value(col("o_orderkey")).over(whole).as("last_order"))
  }

  val qWindowFamilySql: String =
    """SELECT o_custkey, o_orderkey,
      |  DENSE_RANK() OVER w AS drk,
      |  NTILE(4) OVER w AS quartile,
      |  PERCENT_RANK() OVER w AS prk,
      |  CUME_DIST() OVER w AS cd,
      |  FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order,
      |  LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  /** Calendar gap-fill: densify a sparse per-day aggregate so every day
    * in each series' span is present (missing days → 0). The dense axis
    * is GENERATED (sequence + explode per series), never joined from a
    * calendar table scan; volume is bounded by series × span-days, and
    * the fill join shuffles on (series, day) — both independent of the
    * fact-table size once the first aggregate has reduced it.
    */
  def qGapFill(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val days = daily.groupBy("event_type")
      .agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("day"))
    days.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  val qGapFillSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |days AS (
      |  SELECT event_type, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1))
      |SELECT d.event_type, d.day, CAST(COALESCE(n, 0) AS BIGINT) AS n_events
      |FROM days d LEFT JOIN daily USING (event_type, day)""".stripMargin

  /** Multi-level rollup aggregation. */
  def qRollup(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select("n_name", "c_mktsegment", "c_acctbal")
      // grouping cols re-aliased: works around DetectAmbiguousSelfJoin
      // misfiring on rollup output attributes
      .rollup(col("n_name").as("n_name"), col("c_mktsegment").as("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), moneySum(col("c_acctbal")).as("bal"))
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))

  val qRollupSql: String =
    """SELECT n_name, c_mktsegment, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP(n_name, c_mktsegment)
      |ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin

  /** Distinct aggregation (exact; the scale path would swap in HLL). */
  def qDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  val qDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS distinct_parts,
      |  COUNT(DISTINCT l_suppkey) AS distinct_supps,
      |  COUNT(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Union + dedup across heterogeneous sources. */
  def qUnion(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("k"))
      .union(Tables.orders(s, d).filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("k")))
      .distinct()

  val qUnionSql: String =
    """SELECT DISTINCT k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
      |  UNION ALL
      |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
      |) ORDER BY k""".stripMargin

  /** Scalar subquery: orders within 10% of the global max price.
    * Spark side: single-row agg broadcast-crossed into the scan (no collect).
    */
  def qScalarSubq(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val mx = o.agg(max(col("o_totalprice")).as("mx"))
    o.crossJoin(broadcast(mx))
      .filter(col("o_totalprice") > col("mx") * 0.9)
      .select("o_orderkey", "o_totalprice")
  }

  val qScalarSubqSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) * 0.9
      |ORDER BY o_orderkey""".stripMargin

  /** Conditional (pivot-style) aggregation. */
  def qCaseagg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"),
        moneySum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")

  val qCaseaggSql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Top-N per group via ranked window. */
  def qTopkPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("c_mktsegment", "rn")
  }

  val qTopkPerGroupSql: String =
    """SELECT * FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |) WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin

  /** Top-k per group via the BOUNDED-MEMORY aggregate (graft's
    * TypedImperativeAggregate TopKRows) — the scale path for
    * q_topk_per_group: the window form shuffles and sorts every row of
    * every group, while the heap aggregate combines map-side (at most
    * k rows per group per partition cross the shuffle) and holds O(k)
    * state at any group size. Same result, same oracle shape.
    */
  def qTopkAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(graft.functions.topk_rows(
        struct(col("o_totalprice"), col("o_orderkey")), 3).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast("int").as("rn"),
        col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))

  val qTopkAggSql: String =
    """SELECT c_mktsegment, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice
      |FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |) WHERE rn <= 3""".stripMargin

  /** TPC-H Q4-style: left-semi join (EXISTS with correlated predicate)
    * feeding an aggregation — order-priority counts for orders with at
    * least one qualifying lineitem (the synthetic schema has no
    * commit/receipt dates; the predicate differs, the shape doesn't).
    */
  def q4OrderPriority(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .join(
        Tables.lineitem(s, d)
          .filter(col("l_quantity") > 45 && col("l_discount") < 0.02)
          .select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45 AND l_discount < 0.02)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Grouping sets: independent aggregation granularities in one pass. */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderpriority, o_orderstatus,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin)
  }

  val qGroupingSetsSql: String =
    """SELECT o_orderpriority, o_orderstatus,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin

  /** Exact percentiles (linear interpolation at rank p·(n-1), the
    * percentile_cont definition both engines implement). One
    * `percentile(col, array(...))` aggregate instead of three
    * percentile_cont calls: all three quantiles share a single
    * per-group value buffer and one sort, instead of each aggregate
    * maintaining (and merging) its own. The 100 TB variant swaps in
    * approx_percentile — see q_distinct_approx for the sketch pattern.
    */
  def qPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"))
      .select(col("l_returnflag"),
        element_at(col("ps"), 1).as("p50"),
        element_at(col("ps"), 2).as("p90"),
        element_at(col("ps"), 3).as("p99"))

  val qPercentilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS p50,
      |  quantile_cont(l_extendedprice, 0.9) AS p90,
      |  quantile_cont(l_extendedprice, 0.99) AS p99
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Sketch-based percentiles — the scale path for q_percentiles.
    * Exact `percentile` buffers every value per group (an OOM at 100 TB
    * group sizes); approx_percentile is a bounded mergeable sketch
    * (map-side partial agg, fixed memory at any group size).
    *
    * The sketch picks an actual member near the rank — engine-specific,
    * so the VALUE can't be oracled. What IS portable is the sketch's
    * accuracy contract: with accuracy=1000 the rank error is ≤ 1/1000.
    * The output is therefore invariant-shaped: per group, the exact row
    * count (oracle recomputes) and each quantile's measured rank error
    * |rank(estimate)/n − q| bucketed to 1 decimal — 0.0 unless the
    * sketch drifts past 5% of rank, which puts the accuracy claim
    * itself under the driver's hash gate. The rank of each estimate is
    * measured with one extra aggregate pass over the group joined to
    * its (broadcast, group-count-sized) sketch row.
    */
  def qApproxPercentile(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
    val sk = li.groupBy("l_returnflag")
      .agg(expr(
        "approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), 1000)").as("ps"))
    def rankErr(slot: Int, q: Double, name: String) =
      round(abs(
        sum(when(col("l_extendedprice") <= element_at(col("ps"), slot), 1L)
          .otherwise(0L)).cast("double") / count(lit(1)) - q), 1).as(name)
    li.join(broadcast(sk), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        rankErr(1, 0.5, "p50_rank_err"),
        rankErr(2, 0.9, "p90_rank_err"),
        rankErr(3, 0.99, "p99_rank_err"))
  }

  /** Oracle for the invariant shape: exact group counts plus the
    * contractual 0.0 error buckets — DuckDB cannot reproduce the sketch,
    * but it CAN assert the sketch kept its rank-accuracy promise.
    */
  val qApproxPercentileSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(0.0 AS DOUBLE) AS p50_rank_err,
      |  CAST(0.0 AS DOUBLE) AS p90_rank_err,
      |  CAST(0.0 AS DOUBLE) AS p99_rank_err
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Sketch-based distinct counting — the scale path for q_distinct
    * (HLL++, mergeable, no exact-distinct shuffle explosion).
    *
    * Same invariant reshaping as q_approx_percentile: the HLL estimate
    * is engine-specific, but its error contract is not. Output the
    * exact distinct counts (oracle recomputes) plus each estimate/exact
    * ratio bucketed to 1 decimal — 1.0 unless the sketch drifts past
    * 5%, far beyond rsd 0.02's guarantee — so CORRECTNESS hash-checks
    * the accuracy claim. HLL register merges are max-based and
    * order-free, so the bucket is deterministic on fixed data.
    */
  def qDistinctApprox(s: SparkSession, d: String): DataFrame = {
    // two single-key pipelines over pre-deduped (flag, key) pairs, NOT
    // one multi-distinct agg: two countDistincts on different keys make
    // the planner Expand every row ~3× before the distinct phases; here
    // each branch is a plain two-phase dedup + count. The HLL branch
    // aggregates the SAME deduped pairs — a sketch is
    // duplicate-insensitive (register merges are max-based), so the
    // estimate is bit-identical to updating on raw rows.
    // rsd 0.02 (p=12, 4K registers): measured 5× faster than 0.01's
    // 16K-register sketch at the same update count, and 2% relative
    // error is far inside what a sketch path is for.
    def branch(key: String, exact: String, approx: String): DataFrame =
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col(key))
        // countDistinct ignores NULL keys; a deduped (flag, NULL) row
        // would survive distinct() and be counted — filter to keep the
        // rewrite semantics-identical on any input, not just TPC-H's
        // non-null keys
        .filter(col(key).isNotNull)
        .distinct()
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as(exact),
          approx_count_distinct(col(key), 0.02).as(approx))
    branch("l_partkey", "exact_parts", "approx_parts")
      .join(branch("l_suppkey", "exact_supps", "approx_supps"),
        Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
        round(col("approx_parts").cast("double") / col("exact_parts"), 1)
          .as("parts_ratio"),
        round(col("approx_supps").cast("double") / col("exact_supps"), 1)
          .as("supps_ratio"))
  }

  val qDistinctApproxSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  COUNT(DISTINCT l_suppkey) AS exact_supps,
      |  CAST(1.0 AS DOUBLE) AS parts_ratio,
      |  CAST(1.0 AS DOUBLE) AS supps_ratio
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Cube: all 2^k grouping combinations in one pass (completes the
    * rollup / grouping-sets family).
    */
  def qCube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      // grouping cols re-aliased: same DetectAmbiguousSelfJoin
      // workaround as q_rollup
      .cube(col("o_orderpriority").as("o_orderpriority"),
        col("o_orderstatus").as("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), moneySum(col("o_totalprice")).as("total"))

  val qCubeSql: String =
    """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin

  /** Set operations (INTERSECT / EXCEPT): high-balance customers who
    * also placed a big order, minus those with any 'P'-status order.
    */
  def qSetops(s: SparkSession, d: String): DataFrame = {
    val rich = Tables.customer(s, d).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("k"))
    val bigOrder = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("k"))
    val pStatus = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
      .select(col("o_custkey").as("k"))
    rich.intersect(bigOrder).except(pStatus)
  }

  val qSetopsSql: String =
    """SELECT k FROM (
      |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000
      |  INTERSECT
      |  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
      |)
      |EXCEPT
      |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P'""".stripMargin

  /** Explode / lateral: one row per token (Generate as a relational
    * operator), re-aggregated to the 20 most frequent words.
    */
  def qExplode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(20)

  val qExplodeSql: String =
    """SELECT w, COUNT(*) AS cnt FROM (
      |  SELECT unnest(string_split_regex(lower(text), '[ \t\n\x0b\f\r]+')) AS w FROM documents
      |) WHERE w != ''
      |GROUP BY w ORDER BY cnt DESC, w LIMIT 20""".stripMargin

  /** Pivot: event counts per user segment × event_type (dynamic column
    * creation; oracle is the conditional-aggregation twin).
    */
  def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("segment", (col("user_id") % 4).cast("int"))
      .groupBy("segment")
      .pivot("event_type", Seq("click", "view", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  val qPivotSql: String =
    """SELECT CAST(user_id % 4 AS INTEGER) AS segment,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events GROUP BY 1""".stripMargin

  /** Unpivot (melt) — the inverse of q_pivot: the wide per-segment
    * counts fold back into (segment, event_type, cnt) rows via the
    * native unpivot operator (an Expand node — one pass, no join, no
    * shuffle beyond the pivot's own agg). Wide→long reshaping is how
    * per-metric columns become a metrics table at scale.
    */
  def qUnpivot(s: SparkSession, d: String): DataFrame =
    qPivot(s, d).unpivot(
      Array(col("segment")),
      Array(col("click"), col("view"), col("purchase"), col("error")),
      "event_type", "cnt")

  val qUnpivotSql: String =
    """WITH wide AS (
      |  SELECT CAST(user_id % 4 AS INTEGER) AS segment,
      |    COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |    COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      |    COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |    COUNT(*) FILTER (WHERE event_type = 'error') AS error
      |  FROM events GROUP BY 1)
      |SELECT segment, event_type, cnt
      |FROM wide UNPIVOT (cnt FOR event_type IN (click, view, purchase, error))""".stripMargin

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * MATCH each other instead of silently dropping — the semantics a
    * dimension join needs when the key is legitimately absent. A plain
    * equi-join would lose every nullified row; the null-safe operator
    * still plans as a hash join (the null bucket is just another key).
    */
  def qNullSemantics(s: SparkSession, d: String): DataFrame = {
    val a = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"),
        expr("nullif(c_mktsegment, 'BUILDING')").as("seg"))
    val b = a.select("seg").distinct()
      .select(col("seg").as("bseg"), coalesce(col("seg"), lit("<null>")).as("seg_tag"))
    a.join(b, col("seg") <=> col("bseg"))
      .groupBy("seg_tag")
      .agg(count(lit(1)).as("n_customers"), moneySum(col("c_acctbal")).as("balance"))
  }

  val qNullSemanticsSql: String =
    """WITH a AS (
      |  SELECT c_custkey, c_acctbal, nullif(c_mktsegment, 'BUILDING') AS seg
      |  FROM customer),
      |b AS (SELECT DISTINCT seg, COALESCE(seg, '<null>') AS seg_tag FROM a)
      |SELECT seg_tag, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance
      |FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
      |GROUP BY 1""".stripMargin

  /** Ordered array aggregation — collect per group, sort for
    * determinism (collect_list order is partition-arrival order, never
    * stable under parallelism), emit as a joined string so the oracle
    * compares byte-exactly across engines.
    */
  def qArrayAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
          .as("statuses"),
        count(lit(1)).as("n_orders"))

  val qArrayAggSql: String =
    """SELECT o_orderpriority,
      |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Correlated scalar subquery: orders strictly below their own
    * customer's max order value. Expressed as the correlated SQL itself
    * — Catalyst's decorrelation (RewriteCorrelatedScalarSubquery) turns
    * the per-row subquery into one aggregate + equi-join, so the plan
    * is two scans + hash agg + join, never a per-row re-execution. MAX
    * (exact) rather than AVG keeps the threshold comparison
    * float-order-independent, so the oracle hash-matches.
    */
  /** A-REC: RECURSIVE CTE (Spark 4's WITH RECURSIVE, executed as an
    * iterated distributed self-join per level — UnionLoop): a
    * hierarchy walk following parent(k) = k div 7 from every customer
    * key to the root, aggregated by walk depth. At 100 TB each
    * recursion level is one distributed join against the prior level's
    * frontier (never a driver loop), depth is bounded by the key
    * domain's log, and `spark.sql.cteRecursionLevelLimit` guards
    * runaway definitions. DuckDB runs the same recursion natively
    * (integer division spelled `div` vs `//`), so the whole fixpoint
    * sits under the hash gate.
    */
  def qRecursive(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    cust.createOrReplaceTempView("graft_rec_customer")
    // The engine's recursion ROW cap is a runaway backstop, not a
    // semantic limit — this walk is provably log7(maxkey)-deep, so its
    // total row count is n_customers x depth and the default 1M cap is
    // legitimately exceeded from ~100k customers (measured at the
    // sf1-equivalent corpus). Raise the backstop MONOTONICALLY to what
    // this input provably needs (n x 32 > n x the 23-level depth even
    // a full-range BIGINT key reaches under div 7) — never lowering a
    // user's own setting, and left in place deliberately: the limit
    // must still be in force when the LAZY DataFrame executes, and a
    // floor sized to the largest dim table seen remains a hard stop
    // against true runaway recursion. The count() is a dim-table
    // planning value (same pattern as the skew/bucket planners).
    val nCustomers = cust.count()
    val prior = scala.util.Try(
      s.conf.get("spark.sql.cteRecursionRowLimit").toLong).getOrElse(1000000L)
    s.conf.set("spark.sql.cteRecursionRowLimit",
      math.max(prior, nCustomers * 32).toString)
    s.sql(
      """WITH RECURSIVE walk(k, root, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM graft_rec_customer
        |  UNION ALL
        |  SELECT k div 7, root, depth + 1 FROM walk WHERE k > 0
        |)
        |SELECT CAST(max_depth AS BIGINT) AS max_depth,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT root, MAX(depth) AS max_depth FROM walk GROUP BY root)
        |GROUP BY max_depth ORDER BY max_depth""".stripMargin)
  }

  val qRecursiveSql: String =
    """WITH RECURSIVE walk(k, root, depth) AS (
      |  SELECT c_custkey, c_custkey, 0 FROM customer
      |  UNION ALL
      |  SELECT k // 7, root, depth + 1 FROM walk WHERE k > 0
      |)
      |SELECT CAST(max_depth AS BIGINT) AS max_depth,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM (SELECT root, MAX(depth) AS max_depth FROM walk GROUP BY root)
      |GROUP BY max_depth ORDER BY max_depth""".stripMargin

  /** Correlated LATERAL derived table (SQL:2016): per-order top-2
    * lineitems by price — the surface SQL users reach for before they
    * know the window form. Catalyst decorrelates the per-row
    * ORDER BY/LIMIT subquery (DecorrelateInnerQuery) into the same
    * partitioned-rank shape as q_topk_per_group, so the lateral
    * syntax costs nothing at scale; orders without lineitems drop
    * (inner lateral) identically in both engines. Money under the
    * DECIMAL contract; deterministic tie on l_linenumber.
    */
  def qLateral(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_lat_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lat_lineitem")
    s.sql(
      """SELECT o.o_orderkey, o.o_orderpriority, l.l_linenumber,
        |  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM graft_lat_orders o,
        |LATERAL (SELECT l_linenumber, l_extendedprice
        |         FROM graft_lat_lineitem
        |         WHERE l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l""".stripMargin)
  }

  val qLateralSql: String =
    """SELECT o.o_orderkey, o.o_orderpriority, l.l_linenumber,
      |  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |FROM orders o,
      |LATERAL (SELECT l_linenumber, l_extendedprice
      |         FROM lineitem
      |         WHERE l_orderkey = o.o_orderkey
      |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l""".stripMargin

  def qCorrelatedSubq(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_corr")
    s.sql(
      """SELECT o_custkey, COUNT(*) AS n_below,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_below
        |FROM orders_corr o
        |WHERE o_totalprice < (SELECT MAX(o2.o_totalprice)
        |                      FROM orders_corr o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_custkey""".stripMargin)
  }

  val qCorrelatedSubqSql: String =
    """SELECT o_custkey, COUNT(*) AS n_below,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_below
      |FROM orders o
      |WHERE o_totalprice < (SELECT MAX(o2.o_totalprice)
      |                      FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)
      |GROUP BY o_custkey""".stripMargin

  /** Fixed-width histogram — the profiling primitive behind data
    * skew/quality dashboards: order totals bucketed at 50k, count +
    * decimal-exact sum per (priority, bucket). One hash agg, bucket
    * arithmetic on DECIMAL so both engines truncate identically.
    */
  def qHistogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"),
        floor(dec(col("o_totalprice")) / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        moneySum(col("o_totalprice")).as("total"))

  val qHistogramSql: String =
    """SELECT o_orderpriority,
      |  CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 50000) AS BIGINT) AS bucket,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** FULL OUTER join — both-sides-preserved reconciliation (the audit
    * shape: which active customers placed no recent order, which recent
    * orders reference a customer outside the active slice). Slices are
    * chosen so BOTH sides genuinely contribute unmatched rows: recent
    * orders (mid-1998+, a window narrow enough that some active
    * customers sit out) × high-balance customers.
    */
  def qFullOuter(s: SparkSession, d: String): DataFrame = {
    val activeCustomers = Tables.customer(s, d)
      .filter(col("c_acctbal") > 5000)
      .select("c_custkey", "c_mktsegment")
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1998-06-01")
      .select("o_orderkey", "o_custkey")
      .join(activeCustomers, col("o_custkey") === col("c_custkey"), "full_outer")
      .groupBy(
        when(col("o_orderkey").isNull, "customer_only")
          .when(col("c_custkey").isNull, "order_only")
          .otherwise("both").as("match_type"))
      .agg(count(lit(1)).as("cnt"),
        count(col("o_orderkey")).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"))
  }

  val qFullOuterSql: String =
    """SELECT CASE WHEN o_orderkey IS NULL THEN 'customer_only'
      |            WHEN c_custkey IS NULL THEN 'order_only'
      |            ELSE 'both' END AS match_type,
      |  COUNT(*) AS cnt,
      |  COUNT(o_orderkey) AS n_orders,
      |  COUNT(DISTINCT c_custkey) AS n_customers
      |FROM (SELECT o_orderkey, o_custkey FROM orders
      |      WHERE o_orderdate >= '1998-06-01') o
      |FULL OUTER JOIN (SELECT c_custkey, c_mktsegment FROM customer
      |                 WHERE c_acctbal > 5000) c
      |  ON o_custkey = c_custkey
      |GROUP BY 1""".stripMargin

  /** Multiple COUNT(DISTINCT) over different columns in one aggregate —
    * planned via Expand (one input row fans out per distinct group),
    * the remaining aggregate physical pattern the suite didn't cover.
    * Scale shape: Expand multiplies the shuffle by the number of
    * distinct aggregates — the documented cost of this form; the
    * sketch alternative is q_distinct_approx.
    */
  def qMultiDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))

  val qMultiDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Catalyst's native runtime-filter injection (InjectRuntimeFilter):
    * the selective dim-side predicate is turned into a Bloom filter
    * subquery that Spark pushes into the FACT side's scan before the
    * shuffle join — the fact table is reduced to ~matching rows BEFORE
    * it is shuffled, the same semi-join-reduction economics the manual
    * d_bloom / p_bloom_index paths build by hand, here produced by the
    * optimizer itself. At 100 TB this is the difference between
    * shuffling the whole fact table and shuffling the ~1% that joins.
    *
    * The thresholds that gate injection assume cluster-sized inputs
    * (application side ≥ 10 GB), so the fn sets session confs for the
    * duration of ITS OWN optimization only: the plan is optimized and
    * executed eagerly inside the conf window (a `require` proves the
    * bloom was injected — a silent de-optimization fails loudly), the
    * bounded result is returned as a literal frame, and every conf is
    * restored when the `Stage.withConf` scope closes. Broadcast is
    * disabled inside the window because a broadcast join already ships
    * the dim to the fact and needs no runtime filter.
    */
  def qRuntimeFilter(s: SparkSession, d: String): DataFrame =
    graft.Stage.withConf(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000)
      val out = Tables.lineitem(s, d)
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("l_returnflag")
      require(out.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "runtime bloom filter was not injected into the fact scan")
      // BOUNDEDNESS CONTRACT: collect-then-parallelize pins the
      // conf-scoped plan (the scope exit restores runtime-filter confs;
      // a lazy plan would re-optimize without them). Safe ONLY because
      // the output is a ≤3-row grouped aggregate over l_returnflag —
      // do NOT copy this pattern for unbounded output.
      val rows = out.collect()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    }

  val qRuntimeFilterSql: String =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact distinct counting via the mergeable container-bitmap
    * aggregate (functions/BitmapAggregate.scala — the Doris/ClickHouse
    * BITMAP pattern): per group, one fixed-size word-OR partial per
    * mapper crosses the shuffle, vs count(distinct)'s one-row-per-
    * distinct-value dedup shuffle, and unlike the HLL sketch
    * (q_distinct_approx) the answer is EXACT. The three counts share
    * ONE aggregation pass (multi-distinct via count(distinct) would
    * Expand every input row 3×; three bitmaps just update three
    * buffers). Keys here are the integer-dense TPC-H FKs — the
    * dictionary-encoded-id regime the bitmap pattern is built for.
    */
  def qBitmapDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.bitmap_distinct(col("l_suppkey").cast("long"))
          .as("nd_suppliers"),
        graft.functions.bitmap_distinct(col("l_partkey").cast("long"))
          .as("nd_parts"),
        graft.functions.bitmap_distinct(col("l_orderkey").cast("long"))
          .as("nd_orders"))
      .orderBy("l_returnflag")

  val qBitmapDistinctSql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_suppliers,
      |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
      |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd_orders
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Frequency estimation via Count-Min sketch — the third sketch of
    * the family (HLL = distinct, q_distinct_approx; bitmap = exact
    * distinct, q_bitmap_distinct; CMS = FREQUENCY): one fixed-size
    * (depth × width) counter table built by Spark's own
    * count_min_sketch aggregate (mergeable — partials combine map-side
    * like any agg), answering per-key occurrence counts without a
    * groupBy per key. The CMS contract: estimate ≥ truth always,
    * overcount ≤ ε·N w.h.p. — the heavy-hitter primitive when the key
    * space is too wide to count exactly (t_heavy_hitters' Misra-Gries
    * is the deterministic cousin). Spark ships the BUILD side only;
    * the probe side is graft's cms_estimate expression (codegen'd,
    * one deserialize per eval against the one-row broadcast sketch).
    * Gate: per queried key, round(estimate/exact, 1) — with the sketch
    * width ≫ active keys the estimate is oracle-exact here, and any
    * hash-collision inflation is bounded by the CMS contract.
    */
  private val CmsKeys = Seq(1L, 2L, 3L, 4L, 5L)

  def qCmsFreq(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"))
    val sketch = ev.agg(
      expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("cms"))
    ev.filter(col("user_id").isin(CmsKeys: _*))
      .groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .crossJoin(broadcast(sketch))
      .select(col("user_id"), col("exact_cnt"),
        round(graft.functions.cms_estimate(col("cms"), col("user_id"))
          .cast("double") / col("exact_cnt"), 1).as("est_ratio"))
      .orderBy("user_id")
  }

  val qCmsFreqSql: String =
    s"""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt,
       |  CAST(1.0 AS DOUBLE) AS est_ratio
       |FROM events WHERE user_id IN (${CmsKeys.mkString(", ")})
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Segment-overlap analytics on MATERIALIZED bitmaps — why warehouses
    * store the bitmap and not just its count (Doris bitmap_union →
    * bitmap_and_count): build one supplier bitmap per return-flag
    * segment in a single fact scan, then answer every pairwise overlap
    * with pure bitmap algebra over the 3-row segment table — the fact
    * table is NOT rescanned per question, where the plain-SQL form
    * (distinct pairs self-join) rescans and reshuffles facts for each.
    * At 10⁹ rows per segment the bitmaps are a few MB; the overlap
    * matrix costs a broadcast cross of 3 rows.
    */
  def qBitmapIntersect(s: SparkSession, d: String): DataFrame = {
    val seg = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(graft.functions.bitmap_build(col("l_suppkey").cast("long")).as("bm"))
    seg.select(col("l_returnflag").as("flag_a"), col("bm").as("bma"))
      .join(seg.select(col("l_returnflag").as("flag_b"), col("bm").as("bmb")),
        col("flag_a") < col("flag_b"))
      .select(col("flag_a"), col("flag_b"),
        graft.functions.bitmap_and_count(col("bma"), col("bmb"))
          .as("common_suppliers"))
      .orderBy("flag_a", "flag_b")
  }

  val qBitmapIntersectSql: String =
    """WITH fs AS (SELECT DISTINCT l_returnflag AS f, l_suppkey AS k FROM lineitem)
      |SELECT a.f AS flag_a, b.f AS flag_b, CAST(COUNT(*) AS BIGINT) AS common_suppliers
      |FROM fs a JOIN fs b ON a.k = b.k AND a.f < b.f
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_bitmap_intersect", qBitmapIntersect, Some(qBitmapIntersectSql)),
    QueryDef("q_cms_freq", qCmsFreq, Some(qCmsFreqSql)),
    QueryDef("q_bitmap_distinct", qBitmapDistinct, Some(qBitmapDistinctSql)),
    QueryDef("q_runtime_filter", qRuntimeFilter, Some(qRuntimeFilterSql)),
    QueryDef("q1_agg", q1Agg, Some(q1AggSql)),
    QueryDef("q_histogram", qHistogram, Some(qHistogramSql)),
    QueryDef("q_full_outer", qFullOuter, Some(qFullOuterSql)),
    QueryDef("q_multi_distinct", qMultiDistinct, Some(qMultiDistinctSql)),
    QueryDef("q_correlated_subq", qCorrelatedSubq, Some(qCorrelatedSubqSql)),
    QueryDef("q_recursive", qRecursive, Some(qRecursiveSql)),
    QueryDef("q_lateral", qLateral, Some(qLateralSql)),
    QueryDef("q2_filter_proj", q2FilterProj, Some(q2FilterProjSql)),
    QueryDef("q3_join_topk", q3JoinTopk, Some(q3JoinTopkSql)),
    QueryDef("q5_multijoin", q5Multijoin, Some(q5MultijoinSql)),
    QueryDef("q_semijoin", qSemijoin, Some(qSemijoinSql)),
    QueryDef("q_antijoin", qAntijoin, Some(qAntijoinSql)),
    QueryDef("q_outer_join", qOuterJoin, Some(qOuterJoinSql)),
    QueryDef("q_window", qWindow, Some(qWindowSql)),
    QueryDef("q_window_family", qWindowFamily, Some(qWindowFamilySql)),
    QueryDef("q_gap_fill", qGapFill, Some(qGapFillSql)),
    QueryDef("q_rollup", qRollup, Some(qRollupSql)),
    QueryDef("q_distinct", qDistinct, Some(qDistinctSql)),
    QueryDef("q_union", qUnion, Some(qUnionSql)),
    QueryDef("q_scalar_subq", qScalarSubq, Some(qScalarSubqSql)),
    QueryDef("q_caseagg", qCaseagg, Some(qCaseaggSql)),
    QueryDef("q_topk_per_group", qTopkPerGroup, Some(qTopkPerGroupSql)),
    QueryDef("q_topk_agg", qTopkAgg, Some(qTopkAggSql)),
    QueryDef("q4_order_priority", q4OrderPriority, Some(q4OrderPrioritySql)),
    QueryDef("q_grouping_sets", qGroupingSets, Some(qGroupingSetsSql)),
    QueryDef("q_percentiles", qPercentiles, Some(qPercentilesSql)),
    QueryDef("q_approx_percentile", qApproxPercentile, Some(qApproxPercentileSql)),
    QueryDef("q_distinct_approx", qDistinctApprox, Some(qDistinctApproxSql)),
    QueryDef("q_cube", qCube, Some(qCubeSql)),
    QueryDef("q_setops", qSetops, Some(qSetopsSql)),
    QueryDef("q_explode", qExplode, Some(qExplodeSql)),
    QueryDef("q_pivot", qPivot, Some(qPivotSql)),
    QueryDef("q_unpivot", qUnpivot, Some(qUnpivotSql)),
    QueryDef("q_null_semantics", qNullSemantics, Some(qNullSemanticsSql)),
    QueryDef("q_array_agg", qArrayAgg, Some(qArrayAggSql)),
  )
}
