package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Block A additions — the statistics/insight layer a warehouse team
  * runs over the landed corporate tables (the reference stops at
  * landing the records — steps/ingesters.py:30 — these are the
  * decision queries the landed tables exist to answer): trend
  * regression, inequality profiling (Lorenz/Gini), robust outlier
  * screening (median/MAD), market-basket association rules, and a
  * seasonal-naive forecast backtest.
  *
  * Float discipline (the t_zipf_fit convention): every aggregate that
  * crosses a shuffle is a BIGINT (counts, cents, quantized logs), so
  * partitioning can never change a fold order; doubles appear only in
  * final per-row combinations of those exact integers, written as the
  * IDENTICAL expression tree on both engines.
  */
object Stats {

  private def events(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(col("user_id"), unix_micros(col("ts")).as("us"),
      col("event_id"), col("event_type"), col("value"))

  private val DayUs = 86400000000L

  /** A-reg: OLS trend per event-type — slope/intercept/r² of the daily
    * event count on the day index. The regression sums (n, Σx, Σy,
    * Σxy, Σx², Σy²) are all BIGINT-exact (x = day offset from the
    * corpus's first day, y = a daily count; bounds documented below),
    * so slope is a single BIGINT-ratio division and intercept the
    * exact rational (Σy·den − num·Σx)/(n·den) — bit-identical on both
    * engines. r² squares `num`, which can exceed 2^63, so it combines
    * the same BIGINT sums in DOUBLE with an expression tree the oracle
    * mirrors token-for-token (BIGINT→DOUBLE casts round identically;
    * each subsequent op is one IEEE instruction).
    *
    * Overflow bound: y ≤ events/day (~2·10⁴ at sf1), x ≤ calendar days
    * (~4·10²), so n·Σxy ≤ 10¹³ and the intercept numerator
    * Σy·den ≤ 10¹⁸ — inside BIGINT with two decades of headroom.
    *
    * Scale shape: one (event_type, day) hash agg compresses the fact
    * table to calendar-bounded rows; everything after is arithmetic on
    * a per-type handful of sums. At 100 TB the only data-scale pass is
    * the first partial-aggregated scan.
    */
  def qRegression(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"), expr("us div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.agg(min("day").as("d0"))
    val sums = daily.crossJoin(broadcast(d0))
      .withColumn("x", col("day") - col("d0"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    sums.select(col("event_type"), col("n").as("n_days"),
      expr("""CASE WHEN n >= 2 AND n * sxx - sx * sx != 0
              THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
              ELSE 0.0D END""").as("slope"),
      expr("""CASE WHEN n >= 2 AND n * sxx - sx * sx != 0
              THEN CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
                   / CAST(n * (n * sxx - sx * sx) AS DOUBLE)
              ELSE CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) END""").as("intercept"),
      expr("""CASE WHEN n >= 2 AND n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0
              THEN (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
                   / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
              ELSE 0.0D END""").as("r2"))
  }

  val qRegressionSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |d0 AS (SELECT MIN(day) AS d0 FROM daily),
      |sums AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(day - d0) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM((day - d0) * y) AS BIGINT) AS sxy,
      |    CAST(SUM((day - d0) * (day - d0)) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM daily CROSS JOIN d0 GROUP BY 1)
      |SELECT event_type, n AS n_days,
      |  CASE WHEN n >= 2 AND n * sxx - sx * sx != 0
      |       THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |       ELSE 0.0 END AS slope,
      |  CASE WHEN n >= 2 AND n * sxx - sx * sx != 0
      |       THEN CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
      |            / CAST(n * (n * sxx - sx * sx) AS DOUBLE)
      |       ELSE CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) END AS intercept,
      |  CASE WHEN n >= 2 AND n * sxx - sx * sx != 0 AND n * syy - sy * sy != 0
      |       THEN (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
      |            / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |       ELSE 0.0 END AS r2
      |FROM sums""".stripMargin

  /** A-gini: Lorenz deciles + Gini coefficient of per-customer spend —
    * the inequality profile (concentration-of-value) every revenue
    * team keeps. Per-customer cents are BIGINT; the rank pass uses the
    * exact closed form G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) over the
    * (cents, custkey)-total-ordered frame, so numerator and
    * denominator are integer-exact and Gini is ONE double division.
    * Decile boundaries via ntile(10) over the same total order (both
    * engines: standard floor-distribution ntile); cumulative cents per
    * decile stay BIGINT through the running window.
    *
    * Scale shape (round 15): the rank pass is the two-phase
    * distributed range rank ([[graft.operators.RangeRank]]) — boundary
    * sketch → monotone buckets → exact per-bucket offsets → local
    * row_number per bucket — so no single task ever sorts the
    * entity-scale aggregate, and the decile id is pure NTILE
    * ARITHMETIC on (i, n) instead of a second window. Round 16:
    * tieSplit=true — this consumer needs only row_number, so buckets
    * split on COMPOSITE (cents, custkey) boundaries and a degenerate
    * spend distribution (half the entities on one flat value) can
    * never re-create a single fat-bucket sort (RANK_PROBE.json records
    * it distributing). The per-decile
    * rollup and its cumulative sums collapse into ONE global aggregate
    * (30 conditional BIGINT sums) unpacked by `stack` — zero windows
    * anywhere in the plan (PlanShapeSpec pins it). Rank arithmetic is
    * integer-exact, so the NTILE-over-total-order oracle is unchanged.
    *
    * Overflow (round 15, caught by the skew100 probe): n·Σx already
    * passes 2⁶³ at ~10× sf1 entity counts, so the closed form's big
    * products (Σi·xᵢ, (n+1)·Σx, n·Σx) are carried in DECIMAL(38,0) —
    * exact integer arithmetic to 38 digits (headroom past 100 TB:
    * n·s at sf1000 ≈ 3.4·10²² ≪ 10³⁸) — on BOTH engines, with the
    * one double conversion happening on the same exact decimal
    * values. Decile cents sums stay BIGINT (Σx ≤ ~10¹⁷ at sf1000).
    */
  def qGini(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .select(col("o_custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    val tiled = graft.operators.RangeRank
      .withRowNumber(spend, "cents", asc = true, tiebreak = Seq("o_custkey"),
        out = "i", nOut = "n_all", tieSplit = true)
      .withColumn("decile", graft.operators.RangeRank.ntileExpr("i", "n_all", 10))
    val perDecile = (1 to 10).flatMap { dd =>
      Seq(count(when(col("decile") === dd, 1)).as(s"n$dd"),
        sum(when(col("decile") === dd, col("cents")).otherwise(0L)).as(s"s$dd"),
        sum(when(col("decile") <= dd, col("cents")).otherwise(0L)).as(s"c$dd"))
    }
    val aggs = Seq(count(lit(1)).as("n"), sum("cents").as("s"),
      sum(expr("CAST(i AS DECIMAL(38,0)) * cents")).as("w")) ++ perDecile
    val g = tiled.agg(aggs.head, aggs.tail: _*)
    val rows = (1 to 10).map(dd => s"$dd, n$dd, s$dd, c$dd").mkString(", ")
    g.select(expr(s"stack(10, $rows) AS (decile, n_cust, decile_cents, cum_cents)"),
        col("n"), col("s"), col("w"))
      .where(col("n_cust") > 0) // NTILE emits no empty buckets when n < 10
      .select(col("decile"), col("n_cust"), col("decile_cents"), col("cum_cents"),
        (col("cum_cents").cast("double") / col("s").cast("double")).as("cum_share"),
        expr("""CAST(2 * w - (CAST(n AS DECIMAL(38,0)) + 1) * s AS DOUBLE)
                / CAST(CAST(n AS DECIMAL(38,0)) * s AS DOUBLE)""").as("gini"))
  }

  val qGiniSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT cents,
      |    ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
      |    NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
      |  FROM spend),
      |g AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
      |    CAST(SUM(CAST(i AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0)) AS w
      |  FROM ranked),
      |deciles AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
      |    CAST(SUM(cents) AS BIGINT) AS decile_cents
      |  FROM ranked GROUP BY 1),
      |cum AS (
      |  SELECT decile, n_cust, decile_cents,
      |    CAST(SUM(decile_cents) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
      |  FROM deciles)
      |SELECT decile, n_cust, decile_cents, cum_cents,
      |  CAST(cum_cents AS DOUBLE) / CAST(g.s AS DOUBLE) AS cum_share,
      |  CAST(2 * g.w - (CAST(g.n AS DECIMAL(38,0)) + 1) * g.s AS DOUBLE)
      |    / CAST(CAST(g.n AS DECIMAL(38,0)) * g.s AS DOUBLE) AS gini
      |FROM cum CROSS JOIN g""".stripMargin

  /** A-mad: robust outlier screen per market segment — median/MAD
    * (the outlier detector that, unlike z-scores, a single whale
    * cannot poison). Order cents (BIGINT) cast to DOUBLE before the
    * exact interpolated percentile so both engines run the identical
    * quantile_cont semantics (the q_percentiles contract); midpoints
    * of ≤2^53 integers are exact doubles, so |x − med| and the second
    * percentile stay exact. Robust z uses the 1.4826 normal-consistency
    * constant; a zero MAD (≥half the segment at the median) defines
    * z = 0 rather than dividing by zero (the st_anomaly convention).
    *
    * Scale shape: one shuffle to (segment), two bounded percentile
    * passes over segment-local values, a broadcast of the 5-row
    * median/MAD tables back over the scan. Exact percentile buffers
    * per-group values (the documented q_percentiles trade) — the
    * sketch path (approx_percentile) is the stated 100 TB swap.
    */
  def qOutlierMad(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val med = base.groupBy("segment")
      .agg(expr("percentile(CAST(cents AS DOUBLE), 0.5D)").as("med"))
    val withAd = base.join(broadcast(med), Seq("segment"))
      .withColumn("ad", abs(col("cents").cast("double") - col("med")))
    val mad = withAd.groupBy("segment")
      .agg(max("med").as("med"), expr("percentile(ad, 0.5D)").as("mad"))
    withAd.drop("med").join(broadcast(mad), Seq("segment"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), max("med").as("median_cents"),
        max("mad").as("mad_cents"),
        sum(when(col("mad") > 0.0 && col("ad") > lit(3.0) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        round(max(when(col("mad") > 0.0, col("ad") / (lit(1.4826) * col("mad")))
          .otherwise(lit(0.0))), 6).as("max_robust_z"))
  }

  val qOutlierMadSql: String =
    """WITH base AS (
      |  SELECT c_mktsegment AS segment,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |med AS (
      |  SELECT segment, quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
      |  FROM base GROUP BY 1),
      |withad AS (
      |  SELECT b.segment, ABS(CAST(b.cents AS DOUBLE) - m.med) AS ad, m.med
      |  FROM base b JOIN med m USING (segment)),
      |mad AS (
      |  SELECT segment, MAX(med) AS med, quantile_cont(ad, 0.5) AS mad
      |  FROM withad GROUP BY 1)
      |SELECT w.segment, CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(m.med) AS median_cents, MAX(m.mad) AS mad_cents,
      |  CAST(SUM(CASE WHEN m.mad > 0.0 AND w.ad > 3.0 * 1.4826 * m.mad
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(MAX(CASE WHEN m.mad > 0.0 THEN w.ad / (1.4826 * m.mad)
      |                 ELSE 0.0 END), 6) AS max_robust_z
      |FROM withad w JOIN mad m USING (segment)
      |GROUP BY 1""".stripMargin

  /** A-assoc: market-basket association rules over order baskets —
    * support/confidence/lift for brand pairs bought together (the
    * co-purchase table recommendation and assortment teams read).
    * Baskets = the DISTINCT (order, brand) relation; pair generation
    * self-joins WITHIN an order key, so fan-out is bounded by the
    * per-basket item count squared (≤ distinct-brand count, never
    * data×data). Supports are integer counts; confidence and lift are
    * single-division doubles over exactly-converted BIGINTs; the 1%
    * minimum-support gate compares integers (100·supp ≥ N).
    *
    * Scale shape: broadcast the part dim into the lineitem scan, one
    * distinct shuffle on (order, brand), one self-join co-partitioned
    * on the order key, one pair hash-agg bounded by |brands|². At
    * 100 TB the pair space stays catalog-bounded — the classic reason
    * association mining scales where raw pair joins melt.
    */
  def qAssocRules(s: SparkSession, d: String): DataFrame = {
    val baskets = graft.Stage.cached(
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("item"))
        .distinct())
    val nOrders = baskets.agg(countDistinct("ok").as("n_orders"))
    val isup = baskets.groupBy("item").agg(count(lit(1)).as("sup"))
    val a = baskets.select(col("ok"), col("item").as("i1"))
    val b = baskets.select(col("ok"), col("item").as("i2"))
    val pairs = a.join(b, Seq("ok")).filter(col("i1") < col("i2"))
      .groupBy("i1", "i2").agg(count(lit(1)).as("sup_ab"))
    pairs
      .join(broadcast(isup.select(col("item").as("i1"), col("sup").as("sup1"))), Seq("i1"))
      .join(broadcast(isup.select(col("item").as("i2"), col("sup").as("sup2"))), Seq("i2"))
      .crossJoin(broadcast(nOrders))
      .filter(lit(100L) * col("sup_ab") >= col("n_orders"))
      .select(col("i1"), col("i2"), col("sup_ab"), col("sup1"), col("sup2"),
        (col("sup_ab").cast("double") / col("sup1").cast("double")).as("conf_12"),
        (col("sup_ab").cast("double") / col("sup2").cast("double")).as("conf_21"),
        ((col("sup_ab").cast("double") * col("n_orders").cast("double"))
          / (col("sup1").cast("double") * col("sup2").cast("double"))).as("lift"))
  }

  val qAssocRulesSql: String =
    """WITH baskets AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM baskets),
      |isup AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS sup FROM baskets GROUP BY 1),
      |pairs AS (
      |  SELECT a.item AS i1, b.item AS i2, CAST(COUNT(*) AS BIGINT) AS sup_ab
      |  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.item < b.item
      |  GROUP BY 1, 2)
      |SELECT i1, i2, sup_ab, s1.sup AS sup1, s2.sup AS sup2,
      |  CAST(sup_ab AS DOUBLE) / CAST(s1.sup AS DOUBLE) AS conf_12,
      |  CAST(sup_ab AS DOUBLE) / CAST(s2.sup AS DOUBLE) AS conf_21,
      |  (CAST(sup_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
      |    / (CAST(s1.sup AS DOUBLE) * CAST(s2.sup AS DOUBLE)) AS lift
      |FROM pairs
      |JOIN isup s1 ON s1.item = i1
      |JOIN isup s2 ON s2.item = i2
      |CROSS JOIN n
      |WHERE 100 * sup_ab >= n.n_orders""".stripMargin

  /** A-snaive: seasonal-naive forecast backtest — forecast(day) =
    * actual(day − 7), scored by MAE per event type over the trailing
    * 28 scoreable days (the honest baseline every fancier forecaster
    * must beat; q_ewma/q_seasonality are its siblings). Daily counts
    * are BIGINT; the self-join lands on (event_type, day−7) so a
    * calendar gap simply contributes no scoreable row (inner join —
    * both engines agree by construction); MAE is one division of a
    * BIGINT absolute-error sum.
    *
    * Scale shape: the fact table compresses to calendar-bounded daily
    * rows in one partial-aggregated scan; the lag join and trailing
    * window are arithmetic on that tiny frame.
    */
  def qForecastSnaive(s: SparkSession, d: String): DataFrame = {
    val daily = graft.Stage.cached(events(s, d)
      .groupBy(col("event_type"), expr("us div 86400000000").as("day"))
      .agg(count(lit(1)).as("y")))
    val dmax = daily.agg(max("day").as("dmax"))
    val lag7 = daily.select(col("event_type"),
      (col("day") + 7).as("day"), col("y").as("y_hat"))
    daily.join(lag7, Seq("event_type", "day"))
      .crossJoin(broadcast(dmax))
      .filter(col("day") > col("dmax") - 28)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("y") - col("y_hat"))).as("sae"))
      .select(col("event_type"), col("n_scored"), col("sae").cast("long").as("sae"),
        (col("sae").cast("double") / col("n_scored").cast("double")).as("mae"))
  }

  val qForecastSnaiveSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT MAX(day) AS dmax FROM daily),
      |scored AS (
      |  SELECT a.event_type, ABS(a.y - b.y) AS ae
      |  FROM daily a
      |  JOIN daily b ON a.event_type = b.event_type AND b.day = a.day - 7
      |  CROSS JOIN m
      |  WHERE a.day > m.dmax - 28)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
      |  CAST(SUM(ae) AS BIGINT) AS sae,
      |  CAST(SUM(ae) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae
      |FROM scored GROUP BY 1""".stripMargin

  /** A-holt: Holt's linear exponential smoothing (double exponential —
    * the level+trend forecaster between q_ewma's level-only smoother
    * and a seasonal model) over per-type daily counts, with α=1/2 and
    * β=1/4 as EXACT dyadic rationals in integer arithmetic: every
    * update is adds plus a floor division by a power of two, where the
    * floor is taken canonically (subtract the nonnegative mod, THEN
    * divide — truncating `div` and flooring `//` agree on an exactly
    * divisible numerator, so the engines cannot disagree on negative
    * trends). Spark walks each type's sorted day list in one aggregate
    * HOF (the q_changepoint pattern, state = (level, trend), bounded
    * by calendar days); the oracle replays the identical recurrence as
    * a recursive CTE.
    *
    * Scale shape: one partial-agg scan to calendar-bounded daily rows,
    * one per-type fold over ≤|days| elements — no data-scale state.
    */
  def qHolt(s: SparkSession, d: String): DataFrame = {
    // l' = (y + l + b) floordiv 2  (α = 1/2)
    // b' = (l' − l + 3b) floordiv 4 (β = 1/4)
    val lNext = "(e.y + acc.l + acc.b) - (((e.y + acc.l + acc.b) % 2L + 2L) % 2L)"
    val lN = s"(($lNext) div 2L)"
    val bNum = s"($lN - acc.l + 3L * acc.b)"
    val bN = s"(($bNum - (($bNum % 4L + 4L) % 4L)) div 4L)"
    events(s, d)
      .groupBy(col("event_type"), expr("us div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("evs"),
        count(lit(1)).as("n_days"))
      .select(col("event_type"), col("n_days"),
        expr(
          s"""aggregate(evs,
             |  named_struct('i', 0L, 'l', 0L, 'b', 0L),
             |  (acc, e) -> IF(acc.i = 0L,
             |    named_struct('i', 1L, 'l', e.y, 'b', 0L),
             |    named_struct('i', acc.i + 1L, 'l', $lN, 'b', $bN)),
             |  acc -> named_struct('level', acc.l, 'trend', acc.b,
             |    'forecast_7', acc.l + 7L * acc.b))""".stripMargin).as("r"))
      .select(col("event_type"), col("n_days"), col("r.level").as("level"),
        col("r.trend").as("trend"), col("r.forecast_7").as("forecast_7"))
  }

  val qHoltSql: String = {
    val lNext = "(d.y + w.l + w.b) - (((d.y + w.l + w.b) % 2 + 2) % 2)"
    val lN = s"(($lNext) // 2)"
    val bNum = s"($lN - w.l + 3 * w.b)"
    val bN = s"(($bNum - (($bNum % 4 + 4) % 4)) // 4)"
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS y,
       |    ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY epoch_us(ts) // 86400000000) AS idx
       |  FROM events GROUP BY 1, 2),
       |n AS (SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY 1),
       |walk AS (
       |  SELECT d.event_type, 1 AS idx, d.y AS l, CAST(0 AS BIGINT) AS b
       |  FROM daily d WHERE d.idx = 1
       |  UNION ALL
       |  SELECT w.event_type, d.idx, $lN, $bN
       |  FROM walk w
       |  JOIN daily d ON d.event_type = w.event_type AND d.idx = w.idx + 1)
       |SELECT w.event_type, CAST(n.n_days AS BIGINT) AS n_days,
       |  CAST(w.l AS BIGINT) AS level, CAST(w.b AS BIGINT) AS trend,
       |  CAST(w.l + 7 * w.b AS BIGINT) AS forecast_7
       |FROM walk w JOIN n ON n.event_type = w.event_type
       |WHERE w.idx = n.n_days""".stripMargin
  }

  /** A-acf: autocorrelation function of the per-type daily count
    * series at lags 1..7 — the diagnostic that tells a forecasting
    * team WHICH model the series wants (high lag-7 → q_seasonality's
    * weekly profile; fast decay → q_ewma; slow decay → q_holt's
    * trend). Mean-centering is done in n-scaled INTEGER space
    * ((n·yₜ − S) with S = Σy, so no rational mean ever materializes):
    * numerator and denominator are BIGINT-exact sums of products, acf
    * is ONE double division. Lag pairs come from a (type, day+k)
    * self-join over the calendar-bounded daily frame (gap days simply
    * contribute no pair — same convention as q_forecast_snaive).
    *
    * Overflow bound: |n·y − S| ≤ n·max(y) ≈ 4·10²·2·10⁴ = 8·10⁶;
    * squared ≤ 6.4·10¹³; times ≤ 4·10² terms ≤ 2.6·10¹⁶ — BIGINT-safe.
    */
  def qAcf(s: SparkSession, d: String): DataFrame = {
    val daily = graft.Stage.cached(events(s, d)
      .groupBy(col("event_type"), expr("us div 86400000000").as("day"))
      .agg(count(lit(1)).as("y")))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("y").as("s"))
    val centered = daily.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("day"),
        (col("n") * col("y") - col("s")).as("cy"))
    val den = centered.groupBy("event_type")
      .agg(sum(col("cy") * col("cy")).as("den"))
    val lagged = centered.select(col("event_type"),
      explode(sequence(lit(1), lit(7))).as("k"), col("day"), col("cy"))
      .select(col("event_type"), col("k"), (col("day") + col("k")).as("day"),
        col("cy").as("cy_lag"))
    centered.join(lagged, Seq("event_type", "day"))
      .groupBy("event_type", "k")
      .agg(count(lit(1)).as("n_pairs"), sum(col("cy") * col("cy_lag")).as("num"))
      .join(broadcast(den), Seq("event_type"))
      .select(col("event_type"), col("k"), col("n_pairs"),
        expr("""CASE WHEN den != 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                ELSE 0.0D END""").as("acf"))
  }

  val qAcfSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |               CAST(SUM(y) AS BIGINT) AS s FROM daily GROUP BY 1),
      |centered AS (
      |  SELECT d.event_type, d.day, t.n * d.y - t.s AS cy
      |  FROM daily d JOIN tot t USING (event_type)),
      |den AS (SELECT event_type, CAST(SUM(cy * cy) AS BIGINT) AS den
      |        FROM centered GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type, o.k, a.cy AS cy, b.cy AS cy_lag
      |  FROM centered a
      |  CROSS JOIN (SELECT unnest(range(1, 8)) AS k) o
      |  JOIN centered b ON b.event_type = a.event_type AND b.day = a.day - o.k)
      |SELECT p.event_type, p.k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CASE WHEN d.den != 0
      |       THEN CAST(CAST(SUM(p.cy * p.cy_lag) AS BIGINT) AS DOUBLE)
      |            / CAST(d.den AS DOUBLE)
      |       ELSE 0.0 END AS acf
      |FROM pairs p JOIN den d USING (event_type)
      |GROUP BY 1, 2, d.den""".stripMargin

  /** A-dau: DAU/MAU stickiness — per day, the distinct daily actives
    * and the trailing-28-day distinct actives, joined into the ratio
    * product teams watch. The sliding distinct uses the explode-to-
    * day trick: the DISTINCT (user, day) relation (entity-compressed,
    * the retention shuffle) fans out 28 calendar offsets and re-counts
    * distinct per target day — linear, no range join, no per-day
    * re-scan. Counts integer; stickiness one division.
    */
  def qDauMau(s: SparkSession, d: String): DataFrame = {
    val ud = graft.Stage.cached(
      events(s, d).select(col("user_id"), expr("us div 86400000000").as("day")).distinct())
    val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val mau = ud
      .select(col("user_id"), explode(sequence(lit(0), lit(27))).as("off"), col("day"))
      .select(col("user_id"), (col("day") + col("off")).as("day"))
      .groupBy("day").agg(countDistinct("user_id").as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau").cast("double")).as("stickiness"))
  }

  val qDauMauSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      |        FROM ud GROUP BY 1),
      |mau AS (
      |  SELECT ud.day + o.off AS day, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS mau
      |  FROM ud CROSS JOIN (SELECT unnest(range(0, 28)) AS off) o
      |  GROUP BY 1)
      |SELECT d.day, d.dau, m.mau,
      |  CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE) AS stickiness
      |FROM dau d JOIN mau m USING (day)""".stripMargin

  /** A-newret: daily new-vs-returning split — the acquisition/retention
    * mix read alongside q_dau_mau's stickiness: a user is NEW on their
    * first-ever active day, RETURNING on every later active day. One
    * per-user min-day aggregate joined back onto the distinct
    * (user, day) relation; all counts integer.
    */
  def qNewReturning(s: SparkSession, d: String): DataFrame = {
    val ud = graft.Stage.cached(
      events(s, d).select(col("user_id"), expr("us div 86400000000").as("day")).distinct())
    val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
    ud.join(first, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("dau"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"))
      .select(col("day"), col("dau"), col("new_users"),
        (col("dau") - col("new_users")).as("returning"))
  }

  val qNewReturningSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1)
      |SELECT day, CAST(COUNT(*) AS BIGINT) AS dau,
      |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |  CAST(COUNT(*) - SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
      |    AS returning
      |FROM ud JOIN f USING (user_id)
      |GROUP BY 1""".stripMargin

  /** A-gap: inter-event-time distribution per event type — exact p50/
    * p90/p99 of the per-user gaps between consecutive same-type events
    * (the engagement-cadence profile; also the input a session-timeout
    * choice is calibrated from). One (user) window per type for the
    * lag, gaps are integer µs, exact interpolated percentiles over
    * doubles of those integers (the q_percentiles/q_outlier_mad
    * contract — approx_percentile is the stated 100 TB swap).
    */
  def qInterEvent(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    events(s, d)
      .withColumn("prev", lag("us", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("us") - col("prev")).cast("double").as("gap"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap, 0.5D)").as("p50_us"),
        expr("percentile(gap, 0.9D)").as("p90_us"),
        expr("percentile(gap, 0.99D)").as("p99_us"))
  }

  val qInterEventSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
      |gaps AS (
      |  SELECT event_type,
      |    CAST(us - LAG(us, 1) OVER (PARTITION BY user_id, event_type
      |      ORDER BY us, event_id) AS DOUBLE) AS gap
      |  FROM e)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |  quantile_cont(gap, 0.5) AS p50_us,
      |  quantile_cont(gap, 0.9) AS p90_us,
      |  quantile_cont(gap, 0.99) AS p99_us
      |FROM gaps WHERE gap IS NOT NULL
      |GROUP BY 1""".stripMargin

  /** A-chisq: chi-squared independence table for market segment ×
    * order priority — the categorical-association screen (is priority
    * mix actually different per segment?). Observed/row/column/total
    * counts are BIGINT; each cell's (O·N − R·C)²/(N·R·C) is computed
    * in DOUBLE from exactly-converted integers (the q_regression r²
    * convention — the square would overflow BIGINT), then FLOORED to
    * 8-dp fixed point so the statistic itself is an integer SUM of
    * per-cell terms (the q_drift_psi discipline) — no float fold for
    * partitioning to reorder. Emits the per-cell drill-down plus the
    * statistic; one (seg, prio) hash agg + two broadcast margins.
    */
  def qChisq(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_orderpriority").as("priority"))
    val cells = graft.Stage.cached(base.groupBy("segment", "priority")
      .agg(count(lit(1)).as("o")))
    val rows = cells.groupBy("segment").agg(sum("o").as("r"))
    val cols = cells.groupBy("priority").agg(sum("o").as("c"))
    val n = cells.agg(sum("o").as("n"))
    val withFx = cells
      .join(broadcast(rows), Seq("segment"))
      .join(broadcast(cols), Seq("priority"))
      .crossJoin(broadcast(n))
      .withColumn("fx", expr(
        """CAST(FLOOR(((CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
           * 100000000.0D) AS BIGINT)"""))
    val chi2 = sum("fx").over(Window.partitionBy())
    withFx.select(col("segment"), col("priority"),
      col("o").cast("long").as("o"), col("r").cast("long").as("r"),
      col("c").cast("long").as("c"),
      (col("fx").cast("double") / 1.0e8).as("contrib"),
      (chi2.cast("double") / 1.0e8).as("chi2"))
  }

  val qChisqSql: String =
    """WITH base AS (
      |  SELECT c_mktsegment AS segment, o_orderpriority AS priority
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cells AS (SELECT segment, priority, CAST(COUNT(*) AS BIGINT) AS o
      |          FROM base GROUP BY 1, 2),
      |r AS (SELECT segment, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
      |c AS (SELECT priority, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      |fx AS (
      |  SELECT segment, priority, o, r.r, c.c,
      |    CAST(FLOOR(((CAST(o * n - r.r * c.c AS DOUBLE) * CAST(o * n - r.r * c.c AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)))
      |      * 100000000.0) AS BIGINT) AS fx
      |  FROM cells JOIN r USING (segment) JOIN c USING (priority) CROSS JOIN n)
      |SELECT segment, priority, o, r, c,
      |  CAST(fx AS DOUBLE) / 100000000.0 AS contrib,
      |  CAST(SUM(fx) OVER () AS DOUBLE) / 100000000.0 AS chi2
      |FROM fx""".stripMargin

  /** A-mwu: Mann-Whitney U between two segments' per-customer spend —
    * the nonparametric "is A richer than B" test that q_outlier_mad's
    * heavy tails would invalidate a t-test for. Tie handling is exact
    * in INTEGER space: the doubled average rank 2·r̄ = 2·minrank +
    * (ties−1) is always integral, so rank sums and the doubled U stay
    * BIGINT; the common-language effect size (P(A>B) + ½P(A=B)) is one
    * division. The rank pass (round 15) is the two-phase distributed
    * range rank ([[graft.operators.RangeRank]]): exact global
    * row_number i, then minrank = MIN(i) and ties = COUNT(*) over the
    * hash-partitioned per-cents window (equal cents always share a
    * range bucket — monotone bucketing — so both are one local pass);
    * no single-task sort anywhere (PlanShapeSpec pins it), and
    * min-rank arithmetic is exact, so the RANK()-based oracle holds
    * unchanged.
    */
  def qMwu(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .groupBy(col("c_custkey"), col("c_mktsegment").as("segment"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("cents"))
    val wc = Window.partitionBy("cents")
    val ranked = graft.operators.RangeRank
      .withRowNumber(spend, "cents", asc = true, tiebreak = Seq("c_custkey"),
        out = "i", nOut = "n_all")
      .withColumn("minrank", min("i").over(wc))
      .withColumn("ties", count(lit(1)).over(wc))
      .withColumn("ar2", lit(2L) * col("minrank") + (col("ties") - 1L))
    val agg = ranked.groupBy("segment")
      .agg(count(lit(1)).as("n"), sum("ar2").as("r2"))
    val a = agg.filter(col("segment") === "AUTOMOBILE")
      .select(col("n").as("n1"), col("r2").as("r2a"))
    val b = agg.filter(col("segment") === "BUILDING")
      .select(col("n").as("n2"))
    a.crossJoin(broadcast(b))
      .select(col("n1"), col("n2"),
        ((col("r2a") - col("n1") * (col("n1") + 1L)).cast("double") / 2.0).as("u1"),
        ((col("n1") * col("n2")).cast("double")
          - (col("r2a") - col("n1") * (col("n1") + 1L)).cast("double") / 2.0).as("u2"),
        ((col("r2a") - col("n1") * (col("n1") + 1L)).cast("double")
          / (lit(2.0) * (col("n1") * col("n2")).cast("double"))).as("effect"))
  }

  val qMwuSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, c_mktsegment AS segment,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT segment,
      |    2 * RANK() OVER (ORDER BY cents)
      |      + (COUNT(*) OVER (PARTITION BY cents) - 1) AS ar2
      |  FROM spend),
      |agg AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
      |               CAST(SUM(ar2) AS BIGINT) AS r2 FROM ranked GROUP BY 1),
      |a AS (SELECT n AS n1, r2 AS r2a FROM agg WHERE segment = 'AUTOMOBILE'),
      |b AS (SELECT n AS n2 FROM agg WHERE segment = 'BUILDING')
      |SELECT n1, n2,
      |  CAST(r2a - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
      |  CAST(n1 * n2 AS DOUBLE) - CAST(r2a - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u2,
      |  CAST(r2a - n1 * (n1 + 1) AS DOUBLE) / (2.0 * CAST(n1 * n2 AS DOUBLE)) AS effect
      |FROM a CROSS JOIN b""".stripMargin

  /** A-surv: Kaplan-Meier churn survival over user activity lifetimes
    * — S(t) = Π_{t'≤t}(1 − d/n), the curve a retention team reads
    * beyond q_retention's fixed-week matrix. Lifetime = last − first
    * active day; users still active within 7 days of the corpus end
    * are CENSORED (they leave the risk set without a churn event —
    * the estimator's whole point). Risk sets and event counts are
    * integers (a descending-t running sum gives n-at-risk); the
    * survival product is an ORDER-PINNED fold over the ≤|days|
    * distinct-lifetime frame — Spark folds a sorted array in one
    * aggregate HOF emitting the running product per step, the oracle
    * replays the identical multiply chain as a recursive CTE (the
    * q_holt convention), so the float sequence is contractual.
    */
  def qSurvival(s: SparkSession, d: String): DataFrame = {
    val spans = events(s, d)
      .groupBy("user_id")
      .agg(min(expr("us div 86400000000")).as("f"),
        max(expr("us div 86400000000")).as("l"))
    val m = spans.agg(max("l").as("m"))
    val lives = spans.crossJoin(broadcast(m))
      .select((col("l") - col("f")).as("t"),
        when(col("l") > col("m") - 7, 0L).otherwise(1L).as("churn"))
    val perT = lives.groupBy("t")
      .agg(count(lit(1)).as("c"), sum("churn").as("d"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = perT.withColumn("n", sum("c").over(wDesc).cast("long"))
    ev.agg(sort_array(collect_list(struct(col("t"), col("d"), col("n")))).as("evs"))
      .select(explode(expr(
        """aggregate(evs,
             CAST(array() AS ARRAY<STRUCT<t: BIGINT, d: BIGINT, n: BIGINT, surv: DOUBLE>>),
             (acc, e) -> array_append(acc, named_struct(
               't', e.t, 'd', e.d, 'n', e.n,
               'surv', IF(size(acc) = 0, 1.0D, element_at(acc, -1).surv)
                       * (1.0D - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE)))))"""))
        .as("r"))
      .select(col("r.t").as("lifetime_days"), col("r.n").as("n_at_risk"),
        col("r.d").as("churned"), round(col("r.surv"), 6).as("survival"))
  }

  val qSurvivalSql: String =
    """WITH RECURSIVE spans AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS f,
      |         MAX(epoch_us(ts) // 86400000000) AS l
      |  FROM events GROUP BY 1),
      |m AS (SELECT MAX(l) AS m FROM spans),
      |lives AS (
      |  SELECT l - f AS t,
      |    CASE WHEN l > m.m - 7 THEN 0 ELSE 1 END AS churn
      |  FROM spans CROSS JOIN m),
      |pert AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(churn) AS BIGINT) AS d
      |  FROM lives GROUP BY 1),
      |ev AS (
      |  SELECT t, d,
      |    CAST(SUM(c) OVER (ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n,
      |    ROW_NUMBER() OVER (ORDER BY t) AS idx
      |  FROM pert),
      |walk AS (
      |  SELECT idx, t, d, n,
      |    1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) AS surv
      |  FROM ev WHERE idx = 1
      |  UNION ALL
      |  SELECT e.idx, e.t, e.d, e.n,
      |    w.surv * (1.0 - CAST(e.d AS DOUBLE) / CAST(e.n AS DOUBLE))
      |  FROM walk w JOIN ev e ON e.idx = w.idx + 1)
      |SELECT t AS lifetime_days, n AS n_at_risk, d AS churned,
      |  round(surv, 6) AS survival
      |FROM walk""".stripMargin

  /** A-elast: log-log price elasticity per brand — OLS slope of
    * ln(quantity) on ln(line price) over lineitem, the pricing team's
    * demand-curve read. Both logs floor to 3-dp fixed point and the x
    * axis is offset-centred (slope-invariant) so all five regression
    * sums stay BIGINT at full-fact-table cardinality (bound: |x| ≤
    * 2·10³ after centering, Σx² ≤ 10¹² per brand at sf1, n·Σx² ≤
    * 2.4·10¹⁷ — the t_zipf_fit discipline at data scale, where the
    * naive 6-dp quantization would overflow). Slope = ONE double
    * division of exact integers.
    */
  def qElasticity(s: SparkSession, d: String): DataFrame = {
    // GUARD BAND on the ln() quantization (round-14 advisor fix): the
    // two engines' libm ln() are each <=1 ulp but not identical, so a
    // value whose ln*1000 fractional part sits ~1e-12 from the 0.5
    // rounding boundary could FLOOR differently per engine and flip
    // the BIGINT fixed point. Rows within 1e-9 of the boundary are
    // excluded IDENTICALLY in both engines; a cross-engine flip now
    // needs the frac part within ~2e-12 of the 1e-9 guard edge itself
    // (where both engines already agree on the FLOOR) — ~400x narrower
    // than the unguarded hazard, and the dropped rows are a ~2e-6
    // fraction, statistically invisible to an OLS slope.
    def guarded(lnOf: String): String =
      s"""ABS($lnOf * 1000 - FLOOR($lnOf * 1000) - 0.5) > 1e-9"""
    val lnPrice = "ln(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))"
    val lnQty = "ln(CAST(l_quantity AS BIGINT))"
    val base = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .where(expr(guarded(lnPrice)) && expr(guarded(lnQty)))
      .select(col("p_brand").as("brand"),
        expr(s"CAST(FLOOR($lnPrice * 1000 + 0.5) AS BIGINT) - 14000").as("x"),
        expr(s"CAST(FLOOR($lnQty * 1000 + 0.5) AS BIGINT)").as("y"))
    base.groupBy("brand")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("brand"), col("n"),
        expr("""CASE WHEN n >= 2 AND n * sxx - sx * sx != 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
                ELSE 0.0D END""").as("elasticity"))
  }

  val qElasticitySql: String =
    """WITH base AS (
      |  SELECT p_brand AS brand,
      |    CAST(FLOOR(ln(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |         * 1000 + 0.5) AS BIGINT) - 14000 AS x,
      |    CAST(FLOOR(ln(CAST(l_quantity AS BIGINT)) * 1000 + 0.5) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE ABS(ln(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) * 1000
      |            - FLOOR(ln(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) * 1000)
      |            - 0.5) > 1e-9
      |    AND ABS(ln(CAST(l_quantity AS BIGINT)) * 1000
      |            - FLOOR(ln(CAST(l_quantity AS BIGINT)) * 1000) - 0.5) > 1e-9),
      |sums AS (
      |  SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM base GROUP BY 1)
      |SELECT brand, n,
      |  CASE WHEN n >= 2 AND n * sxx - sx * sx != 0
      |       THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |       ELSE 0.0 END AS elasticity
      |FROM sums""".stripMargin

  /** A-runs: Wald-Wolfowitz runs test on each type's daily up/down
    * move sequence — "is the series random or trending/mean-
    * reverting", the sanity check behind q_acf's lags. Moves are
    * sign(yₜ − yₜ₋₁) over the day-ordered series (zero diffs dropped,
    * the standard convention); the runs count is 1 + #sign-changes —
    * pure integer window math — and z combines n₁, n₂, R through the
    * closed form in one identical IEEE tree.
    */
  def qRuns(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val moves = events(s, d)
      .groupBy(col("event_type"), expr("us div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("prev", lag("y", 1).over(w))
      .filter(col("prev").isNotNull && col("y") =!= col("prev"))
      .select(col("event_type"), col("day"),
        when(col("y") > col("prev"), 1L).otherwise(-1L).as("mv"))
    val w2 = Window.partitionBy("event_type").orderBy("day")
    val runs = moves
      .withColumn("chg", when(lag("mv", 1).over(w2).isNull
        || lag("mv", 1).over(w2) =!= col("mv"), 1L).otherwise(0L))
      .groupBy("event_type")
      .agg(sum(when(col("mv") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("mv") === -1L, 1L).otherwise(0L)).as("n2"),
        sum("chg").as("runs"))
    runs.select(col("event_type"), col("n1"), col("n2"), col("runs"),
      expr("""CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 THEN
                (CAST(runs AS DOUBLE)
                 - (2.0D * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    / CAST(n1 + n2 AS DOUBLE) + 1.0D))
                / sqrt((2.0D * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * (2.0D * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           - CAST(n1 + n2 AS DOUBLE)))
                       / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                          * (CAST(n1 + n2 AS DOUBLE) - 1.0D)))
              ELSE 0.0D END""").as("z"))
  }

  val qRunsSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |mv AS (
      |  SELECT event_type, day,
      |    CASE WHEN y > prev THEN 1 ELSE -1 END AS mv
      |  FROM (
      |    SELECT event_type, day, y,
      |      LAG(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev
      |    FROM daily)
      |  WHERE prev IS NOT NULL AND y != prev),
      |runs AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN mv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN mv = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN prevmv IS NULL OR prevmv != mv THEN 1 ELSE 0 END) AS BIGINT)
      |      AS runs
      |  FROM (
      |    SELECT event_type, mv,
      |      LAG(mv, 1) OVER (PARTITION BY event_type ORDER BY day) AS prevmv
      |    FROM mv)
      |  GROUP BY 1)
      |SELECT event_type, n1, n2, runs,
      |  CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 THEN
      |    (CAST(runs AS DOUBLE)
      |     - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        / CAST(n1 + n2 AS DOUBLE) + 1.0))
      |    / sqrt((2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |            * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |               - CAST(n1 + n2 AS DOUBLE)))
      |           / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
      |              * (CAST(n1 + n2 AS DOUBLE) - 1.0)))
      |  ELSE 0.0 END AS z
      |FROM runs""".stripMargin

  /** A-conc: market concentration — the top-10 revenue share and the
    * Herfindahl-Hirschman index over per-customer spend (the
    * "how dependent are we on a few whales" read next to q_gini's full
    * curve). Shares quantize to 1e-6 fixed point BEFORE squaring so
    * HHI is an integer sum (Σfx² ≤ 10¹⁷ at sf1 — BIGINT-safe where
    * squaring raw cents would overflow).
    *
    * Scale shape (round 15): the oracle's rk ≤ 10 filter over the
    * (cents DESC, o_custkey) total order IS a top-k — so the rank
    * window is gone entirely, replaced by orderBy(...).limit(10)
    * (TakeOrderedAndProject: per-partition top-10 heaps merged on the
    * driver, the textbook distributed top-k — nothing global is ever
    * sorted). The q_gini/q_mwu family re-roots on RangeRank because
    * every row needs its rank; here only 10 rows do, and the limit
    * plan is strictly better than any rank plan. PlanShapeSpec pins
    * the window-free shape.
    */
  def qConcentration(s: SparkSession, d: String): DataFrame = {
    val spend = graft.Stage.cached(Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .as("cents")))
    val tot = spend.agg(count(lit(1)).as("n_cust"), sum("cents").as("total"))
    val top10 = spend
      .orderBy(col("cents").desc, col("o_custkey"))
      .limit(10)
      .agg(sum("cents").cast("long").as("top10_cents"))
    spend.crossJoin(broadcast(tot))
      .select(col("n_cust"), col("total"),
        expr("(cents * 1000000L) div total").as("sfx"))
      .agg(max("n_cust").as("n_cust"),
        max("total").cast("long").as("total_cents"),
        sum(col("sfx") * col("sfx")).as("hhi_fx"))
      .crossJoin(broadcast(top10))
      .select(col("n_cust"), col("total_cents"), col("top10_cents"),
        (col("top10_cents").cast("double") / col("total_cents").cast("double"))
          .as("top10_share"),
        (col("hhi_fx").cast("double") / 1.0e12).as("hhi"))
  }

  val qConcentrationSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
      |               CAST(SUM(cents) AS BIGINT) AS total FROM spend),
      |fx AS (
      |  SELECT n_cust, total, cents,
      |    (cents * 1000000) // total AS sfx,
      |    ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rk
      |  FROM spend CROSS JOIN tot)
      |SELECT MAX(n_cust) AS n_cust, CAST(MAX(total) AS BIGINT) AS total_cents,
      |  CAST(SUM(CASE WHEN rk <= 10 THEN cents ELSE 0 END) AS BIGINT) AS top10_cents,
      |  CAST(SUM(CASE WHEN rk <= 10 THEN cents ELSE 0 END) AS DOUBLE)
      |    / CAST(MAX(total) AS DOUBLE) AS top10_share,
      |  CAST(CAST(SUM(sfx * sfx) AS BIGINT) AS DOUBLE) / 1.0e12 AS hhi
      |FROM fx""".stripMargin

  /** A-sess: session-quality distribution — exact p50/p90 of events
    * per session and session duration over the 30-min-gap batch
    * sessionization (st_sessionize's twin reused as the base relation
    * — one operator's output is the next one's input, the
    * composability convention): the engagement dashboard beside
    * q_inter_event's cadence percentiles.
    */
  def qSessionStats(s: SparkSession, d: String): DataFrame = {
    val sess = graft.streaming.Streaming.stSessionize(s, d)
    sess.agg(count(lit(1)).as("n_sessions"),
      countDistinct("user_id").as("n_users"),
      expr("percentile(CAST(n_events AS DOUBLE), 0.5D)").as("p50_events"),
      expr("percentile(CAST(n_events AS DOUBLE), 0.9D)").as("p90_events"),
      expr("percentile(CAST(session_end_us - session_start_us AS DOUBLE), 0.5D)")
        .as("p50_duration_us"),
      expr("percentile(CAST(session_end_us - session_start_us AS DOUBLE), 0.9D)")
        .as("p90_duration_us"))
  }

  val qSessionStatsSql: String =
    s"""WITH sessions AS (${graft.streaming.Streaming.stSessionizeSql})
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |  quantile_cont(CAST(n_events AS DOUBLE), 0.5) AS p50_events,
       |  quantile_cont(CAST(n_events AS DOUBLE), 0.9) AS p90_events,
       |  quantile_cont(CAST(session_end_us - session_start_us AS DOUBLE), 0.5)
       |    AS p50_duration_us,
       |  quantile_cont(CAST(session_end_us - session_start_us AS DOUBLE), 0.9)
       |    AS p90_duration_us
       |FROM sessions""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_concentration", qConcentration, Some(qConcentrationSql)),
    QueryDef("q_session_stats", qSessionStats, Some(qSessionStatsSql)),
    QueryDef("q_survival", qSurvival, Some(qSurvivalSql)),
    QueryDef("q_elasticity", qElasticity, Some(qElasticitySql)),
    QueryDef("q_runs", qRuns, Some(qRunsSql)),
    QueryDef("q_chisq", qChisq, Some(qChisqSql)),
    QueryDef("q_mwu", qMwu, Some(qMwuSql)),
    QueryDef("q_acf", qAcf, Some(qAcfSql)),
    QueryDef("q_new_returning", qNewReturning, Some(qNewReturningSql)),
    QueryDef("q_inter_event", qInterEvent, Some(qInterEventSql)),
    QueryDef("q_holt", qHolt, Some(qHoltSql)),
    QueryDef("q_dau_mau", qDauMau, Some(qDauMauSql)),
    QueryDef("q_regression", qRegression, Some(qRegressionSql)),
    QueryDef("q_gini", qGini, Some(qGiniSql)),
    QueryDef("q_outlier_mad", qOutlierMad, Some(qOutlierMadSql)),
    QueryDef("q_assoc_rules", qAssocRules, Some(qAssocRulesSql)),
    QueryDef("q_forecast_snaive", qForecastSnaive, Some(qForecastSnaiveSql)))
}
