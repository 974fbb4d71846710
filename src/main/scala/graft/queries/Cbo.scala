package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Stage, Tables}
import QueryDef._

/** Cost-based optimization exercised end to end: table/column statistics
  * (ANALYZE TABLE) feeding Catalyst's CBO join REORDER. The query is
  * written in a deliberately bad order — fact ⋈ fact first, the
  * selective dimension last — and the star-schema detection + join
  * reorder rules must rewrite it so the selective dimension reduces the
  * orders side BEFORE the expensive fact join. At 100 TB writing joins
  * in a "good" order by hand is exactly the kind of tribal knowledge an
  * engine should make unnecessary; this query self-checks that the
  * optimizer (not the author) picked the plan.
  *
  * Statistics live on catalog tables (the stats store is table
  * metadata, not a parquet property), so the three inputs are published
  * once as fingerprinted managed tables and ANALYZEd; CBO confs are
  * scoped to this query's own optimization window, q_runtime_filter
  * style.
  */
object Cbo {

  /** Publish (once per source fingerprint) the three join inputs as
    * catalog tables with computed statistics. Re-publishing after a
    * testdata regeneration gets fresh names via the fingerprint.
    */
  private def ensureStatsTables(s: SparkSession, d: String): (String, String, String) = {
    val fp = Stage.sourceFingerprint(d, "lineitem")
    val names = ("graft_cbo_lineitem_" + fp, "graft_cbo_orders_" + fp,
      "graft_cbo_customer_" + fp)
    val (li, or, cu) = names
    // gate on ALL three: a partial earlier run (failed midway through
    // the writes or the ANALYZE loop) must rebuild, not wedge every
    // later call on the missing tail
    if (!Seq(li, or, cu).forall(s.catalog.tableExists)) {
      // the default catalog is session-scoped but the warehouse DIR
      // persists across JVMs: a fresh session sees no table yet a
      // stale location (orphaned metadata-less bytes, fingerprint-
      // addressed and thus safe to rebuild) — drop and clear first
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
      Seq(li, or, cu).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        Stage.deleteRecursively(new java.io.File(wh, t))
      }
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
        .write.saveAsTable(li)
      Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .write.saveAsTable(or)
      Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        .write.saveAsTable(cu)
      Seq(li, or, cu).foreach { t =>
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      }
    }
    // The tableExists gate only proves the WRITES finished; a crash
    // after the last saveAsTable but before/inside the ANALYZE loop
    // leaves stats-less tables that would pass it — and CBO would then
    // never reorder, failing the plan `require` forever. Gate on the
    // stats themselves and re-ANALYZE any table missing them (ANALYZE
    // is idempotent, so this also self-heals a partial loop).
    Seq(li, or, cu).foreach { t =>
      val hasStats = s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
        .stats.exists(_.rowCount.isDefined)
      if (!hasStats)
        s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    names
  }

  /** A2-CBO: stats-driven join reorder, self-checked. Written order:
    * lineitem ⋈ orders (fact ⋈ fact), THEN the ~1/5-selective customer
    * dim. The reordered plan must join customer below the lineitem
    * join; a `require` inspects the optimized join tree.
    */
  def qCboReorder(s: SparkSession, d: String): DataFrame = {
    val (li, or, cu) = ensureStatsTables(s, d)
    Stage.withConf(s,
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = s.table(li)
        .join(s.table(or), col("l_orderkey") === col("o_orderkey"))
        .join(s.table(cu).filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
      // the optimized tree must NOT keep the written li⋈or innermost:
      // the selective customer dim has to sit under the lineitem join
      val joins = out.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      require(joins.size >= 2, "expected a 2-join tree")
      val innermost = joins.last
      val innerTables = innermost.collectLeaves().flatMap {
        case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
          Some(r.tableMeta.identifier.table)
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.catalogTable.map(_.identifier.table)
        case _ => None
      }.toSet
      require(innerTables.contains(cu),
        s"CBO did not push the selective dim down: innermost joins $innerTables")
      require(!innerTables.contains(li),
        s"fact table still in the innermost join: $innerTables")
      // BOUNDEDNESS CONTRACT: collect-then-parallelize is safe here ONLY
      // because the result is a global aggregate (exactly one row). It
      // exists to pin the conf-scoped plan — the scope exit restores CBO
      // confs and a lazy plan would silently re-optimize without them.
      // Do NOT copy this pattern for unbounded output.
      val rows = out.collect()
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), out.schema)
    }
  }

  val qCboReorderSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_cbo_reorder", qCboReorder, Some(qCboReorderSql)))
}
