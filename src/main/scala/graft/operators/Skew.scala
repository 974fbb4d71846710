package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QueryDef
import graft.queries.QueryDef.{dec, moneySum}

/** Explicit skew mitigation (SURVEY §5).
  *
  * AQE's skew-join splitting already re-plans sort-merge joins whose
  * partitions blow past the skew thresholds. This is the explicit
  * variant for the cases AQE can't touch — a shuffle feeding an
  * aggregate, broadcast-ineligible hash joins, or non-AQE deployments:
  * the skewed side gets a deterministic per-row salt in [0, salts), the
  * other side is replicated `salts`×, and the join key becomes
  * (key, salt) — one hot key fans out across `salts` reducers at the
  * cost of replicating the (smaller) right side.
  */
object Skew {

  /** Deterministic per-row salt: hash of the whole row content — rows
    * under one hot key spread uniformly, and reruns are stable (no
    * rand()).
    */
  def rowSalt(df: DataFrame, salts: Int): Column =
    pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(salts.toLong))

  /** Inner equi-join with the LEFT side treated as skewed. */
  def saltedJoin(skewed: DataFrame, other: DataFrame,
      keys: Seq[String], salts: Int): DataFrame = {
    val left = skewed.withColumn("__salt", rowSalt(skewed, salts))
    val right = other.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    left.join(right, keys :+ "__salt").drop("__salt")
  }

  /** Registered query: the salted join must produce exactly the plain
    * join's result (the oracle is the unsalted SQL join) — orders
    * treated as the skewed side, customer replicated 8×, revenue per
    * market segment aggregated above the fanned-out join.
    */
  def qSkewJoin(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .withColumnRenamed("o_custkey", "custkey")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
    saltedJoin(orders, cust, Seq("custkey"), salts = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), moneySum(col("o_totalprice")).as("total"))
  }

  val qSkewJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** Registered query: Spark's NATIVE skew mitigation —
    * OptimizeSkewedJoin — exercised and self-checked. The fixture
    * funnels ~80% of lineitem onto ONE foreign key (the minimum
    * orderkey), producing the classic fact-side hot key against a
    * unique dim key; AQE must detect the oversized shuffle partition
    * at runtime and split it across multiple reducers (`require`
    * inspects the final adaptive plan for a skew-handled sort-merge
    * join). Thresholds are scoped to this query (the q_runtime_filter
    * conf pattern) and sized so the hot partition trips the detector
    * at every test SF; at 100 TB the DEFAULT thresholds (256 MB) trip
    * on real skew with no query changes — this query proves the
    * mechanism, q_skew_join proves the manual fallback for shapes AQE
    * can't touch.
    */
  def qSkewAqe(s: SparkSession, d: String): DataFrame =
    graft.Stage.withConf(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      // keep the planner honest: no broadcast escape hatch, and no
      // partition coalescing hiding the split
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // hot FK = min orderkey; 1-row planning value (bounded collect)
      val hot = Tables.orders(s, d).agg(min("o_orderkey")).head().getLong(0)
      // repartition(32) is load-bearing, not cosmetic: a skewed reduce
      // partition splits at MAPPER-OUTPUT granularity, so a fact side
      // scanned as one map task (single small parquet at test SF) is
      // UNSPLITTABLE and the detector reports no skew at any
      // threshold. At 100 TB the scan naturally has thousands of map
      // tasks and this step disappears; at test SF it recreates the
      // production mapper layout the splitter needs.
      val fact = Tables.lineitem(s, d).repartition(32)
        .withColumn("jk",
          when(col("l_orderkey") % 5 =!= 0, lit(hot))
            .otherwise(col("l_orderkey")))
      val dim = Tables.orders(s, d)
        .select(col("o_orderkey").as("jk"), col("o_orderpriority"))
      val out = fact.join(dim, "jk")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), moneySum(col("l_extendedprice")).as("rev"))
        .orderBy("l_returnflag")
      // BOUNDEDNESS CONTRACT: materialize (≤3-row grouped aggregate)
      // so the adaptive plan is final before the conf restore AND the
      // skew assertion reads the executed plan, not the initial one
      val rows = out.collect()
      // final adaptive plan must show the split: SortMergeJoin(skew=
      // true) over an `AQEShuffleRead skewed` on the fact side
      val planStr = out.queryExecution.executedPlan.toString
      require(planStr.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$planStr")
      require(planStr.contains("AQEShuffleRead skewed"),
        "no skewed shuffle read in the final plan")
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    }

  val qSkewAqeSql: String =
    """WITH hot AS (SELECT MIN(o_orderkey) AS hk FROM orders),
      |fact AS (
      |  SELECT CASE WHEN l_orderkey % 5 <> 0 THEN (SELECT hk FROM hot)
      |              ELSE l_orderkey END AS jk,
      |         l_returnflag, l_extendedprice
      |  FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      |FROM fact JOIN orders ON jk = o_orderkey
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_skew_join", qSkewJoin, Some(qSkewJoinSql)),
    QueryDef("q_skew_aqe", qSkewAqe, Some(qSkewAqeSql)),
  )
}
