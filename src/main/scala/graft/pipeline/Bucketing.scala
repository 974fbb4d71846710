package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QueryDef
import graft.queries.QueryDef.moneySum

/** Bucketed-table layout (SURVEY §4): pre-shuffle a fact table into N
  * buckets on its join key at WRITE time so every subsequent join or
  * aggregation on that key runs exchange-free — at 100 TB the repeated
  * per-query shuffle is the cost being amortized. Spark bucketing rides
  * the session catalog (`saveAsTable` + `bucketBy`); both sides of a
  * join bucketed on the same key with the same count co-locate.
  */
object Bucketing {

  /** Write `df` as a managed table bucketed on `key` (sorted within
    * buckets, so merge-friendly downstream).
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("compression", "zstd")
      .mode("overwrite")
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Make `table` available bucketed. A fresh JVM that finds the
    * previous run's completed layout on disk RE-REGISTERS it as an
    * external bucketed table instead of rewriting — the point of a
    * bucketed layout is that the shuffle is paid once at layout time
    * and amortized across every later session, so re-paying it per JVM
    * would measure the wrong thing. The caller's table name must embed
    * a LAYOUT FINGERPRINT (schema + key + bucket count — see
    * layoutName) so a code change can never re-attach a stale layout;
    * incomplete layouts (no _SUCCESS) are cleared and rewritten.
    */
  private def ensureBucketed(s: SparkSession, table: String, key: String,
      buckets: Int)(df: => DataFrame): Unit =
    if (!s.catalog.tableExists(table)) {
      val dir = new java.io.File(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$table")
      if (new java.io.File(dir, "_SUCCESS").exists()) {
        s.sql(
          s"""CREATE TABLE $table (${df.schema.toDDL})
             |USING PARQUET
             |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
             |LOCATION '${dir.getAbsolutePath}'""".stripMargin)
      } else {
        if (dir.exists()) graft.Stage.deleteRecursively(dir)
        writeBucketed(df, table, key, buckets)
      }
    }

  /** Table name embedding the layout fingerprint: any change to the
    * projected schema, bucket key, or bucket count yields a different
    * name, so re-registration can only ever attach a layout written by
    * the same layout code.
    */
  private def layoutName(prefix: String, d: String, df: DataFrame,
      key: String, buckets: Int, srcTable: String): String = {
    import graft.Stage.fp
    s"${prefix}_${fp(d)}_${fp(df.schema.toDDL + "|" + key + "|" + buckets)}_" +
      graft.Stage.sourceFingerprint(d, srcTable)
  }

  /** A24: join + aggregation over co-bucketed tables — the amortized
    * layout in action. Orders and customer are bucketed on the customer
    * key at write time; the join AND the per-customer aggregation then
    * plan with ZERO shuffle exchanges (self-checked — the query refuses
    * to return a plan that shuffles). At 100 TB this is the difference
    * between re-shuffling the fact table on every query and paying the
    * shuffle once at layout time.
    */
  def qBucketJoin(s: SparkSession, d: String): DataFrame = {
    val oDf = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
    val cDf = Tables.customer(s, d)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val oT = layoutName("bj_orders", d, oDf, "o_custkey", 16, "orders")
    val cT = layoutName("bj_customer", d, cDf, "o_custkey", 16, "customer")
    ensureBucketed(s, oT, "o_custkey", 16)(oDf)
    ensureBucketed(s, cT, "o_custkey", 16)(cDf)
    val joined = read(s, oT).join(read(s, cT), Seq("o_custkey"))
      .groupBy("o_custkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("spend"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    require(shuffles.isEmpty,
      s"co-bucketed join planned ${shuffles.length} shuffle exchange(s)")
    joined
  }

  val qBucketJoinSql: String =
    """SELECT o_custkey, c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY o_custkey, c_mktsegment""".stripMargin

  /** A25: dynamic partition pruning — the fact table is laid out
    * partitioned by a derived key (order year); joining it to a dim
    * filtered on a NON-key attribute prunes fact partitions at RUNTIME:
    * the broadcast dim's surviving key set becomes a partition filter
    * on the fact scan (`dynamicpruning` subquery in the plan). Static
    * pruning can't do this — the surviving years only exist once the
    * dim filter has run. At 100 TB with date-partitioned facts this is
    * the difference between scanning every partition and only the ones
    * the dim selects. The query self-checks the pruning filter is in
    * the plan. Fixture: orders written once per scale dir partitioned
    * by year, plus a tiny years dim, built through Stage.ensureArtifact.
    */
  def qDpp(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(s"/tmp/graft_dpp_${graft.Stage.sourceFingerprint(d, "orders")}")
    // marker = the LAST write's own _SUCCESS, so a crash between the
    // two writes can never publish a half-built fixture
    val phys = graft.Stage.ensureArtifact(s, base, "years/_SUCCESS") { tmp =>
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").parquet(s"${tmp.getPath}/orders_by_year")
      Tables.orders(s, d)
        .select(year(col("o_orderdate")).as("o_year")).distinct()
        .withColumn("y_mod", col("o_year") % 2)
        .coalesce(1).write.parquet(s"${tmp.getPath}/years")
    }
    val fact = s.read.parquet(s"${phys.getPath}/orders_by_year")
    // the dim filter must be a COMPARISON: PartitionPruning gates on
    // isLikelySelective(), which matches BinaryComparison/In/Like — a
    // bare boolean attribute is not on the list and silently disables
    // the whole rewrite
    val dim = s.read.parquet(s"${phys.getPath}/years").filter(col("y_mod") === 0)
    val joined = fact.join(broadcast(dim), Seq("o_year"))
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total"))
    require(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "plan lost the dynamic partition pruning filter")
    joined
  }

  val qDppSql: String =
    """SELECT year(o_orderdate) AS o_year, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders WHERE year(o_orderdate) % 2 = 0
      |GROUP BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_bucket_join", qBucketJoin, Some(qBucketJoinSql)),
    QueryDef("q_dpp", qDpp, Some(qDppSql)))
}
