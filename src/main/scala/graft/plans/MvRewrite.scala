package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, AttributeSet, Cast, EqualTo, Expression, IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.PlanBridge
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables
import graft.queries.QueryDef
import graft.queries.QueryDef.dec

/** Materialized-view query rewriting — the warehouse trick that makes
  * repeated aggregates over a 100 TB fact table cost one scan of a
  * kB-sized summary: a `Rule[LogicalPlan]` recognizes aggregations the
  * lineitem summary MV SUBSUMES and rewrites them to re-aggregate the
  * MV instead:
  *
  *  - grouping keys must be a SUBSET of the MV's (l_returnflag,
  *    l_linestatus) — a coarser roll-up re-aggregates the finer MV
  *    (sums of sums, sums of counts: the aggregates are mergeable
  *    partials, same algebra as p_incremental_agg);
  *  - filters BETWEEN the scan and the aggregate must touch only MV
  *    key columns (then they apply to the MV verbatim — subsumption,
  *    not just exact matching);
  *  - every aggregate must be one the MV can answer (the money-decimal
  *    sums and count(*)); one unrecognized aggregate aborts the whole
  *    rewrite — the rule never degrades correctness to fire.
  *
  * Rewritten expressions keep the ORIGINAL names, exprIds and types
  * (alias + cast), so every downstream operator resolves unchanged —
  * the rewrite is invisible except in the scan. The MV itself is a
  * fingerprinted build-once artifact (sourceFingerprint discipline);
  * its own build aggregation runs under a thread-local bypass so the
  * rule can never rewrite the build to read the artifact it is
  * producing. q_mv_rewrite self-checks the executed plan: it must scan
  * the MV directory and must NOT scan lineitem.parquet.
  *
  * The rewrite is the one optimizer rule installed at call time
  * (`experimental.extraOptimizations`, see [[MvRewrite.ensureRule]]):
  * it is keyed by the MV's fingerprinted path, which no build-time
  * extension can know.
  */
object MvRewrite {

  private[graft] val building = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  def ensureMv(s: SparkSession, d: String): String = {
    val dir = new java.io.File(
      s"/tmp/graft_mv_lineitem_${graft.Stage.sourceFingerprint(d, "lineitem")}")
    graft.Stage.ensureArtifact(s, dir) { tmp =>
      building.set(true)
      try Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).as("mv_sum_qty"),
          sum(dec(col("l_extendedprice"))).as("mv_sum_price"),
          count(lit(1)).as("mv_n"))
        .write.parquet(tmp.getPath)
      finally building.set(false)
    }.getPath
  }

  /** Idempotently install the rewrite rule for `mvPath` into the
    * session's optimizer — the one call-time optimizer install; every
    * path-independent rule comes from GraftExtensions at build time.
    */
  def ensureRule(s: SparkSession, mvPath: String, mv: MvDef): Unit = {
    val exp = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.exists {
      case MvRewriteRule(_, p, _) => p == mvPath
      case _ => false
    }) exp.extraOptimizations = exp.extraOptimizations :+ MvRewriteRule(s, mvPath, mv)
  }

  /** The lineitem pricing-summary view. */
  val LineitemMv: MvDef = MvDef("lineitem.parquet",
    Set("l_returnflag", "l_linestatus"),
    Map("l_quantity" -> "mv_sum_qty", "l_extendedprice" -> "mv_sum_price"),
    "mv_n")

  /** A second instantiation over a different fact table — registering
    * an MV is one MvDef, not a new rule (spec-exercised).
    */
  val EventsMv: MvDef = MvDef("events.parquet",
    Set("event_type"), Map("value" -> "mv_sum_value"), "mv_n")

  def ensureEventsMv(s: SparkSession, d: String): String = {
    val dir = new java.io.File(
      s"/tmp/graft_mv_events_${graft.Stage.sourceFingerprint(d, "events")}")
    graft.Stage.ensureArtifact(s, dir) { tmp =>
      building.set(true)
      try Tables.events(s, d)
        .groupBy("event_type")
        .agg(sum(dec(col("value"))).as("mv_sum_value"), count(lit(1)).as("mv_n"))
        .write.parquet(tmp.getPath)
      finally building.set(false)
    }.getPath
  }

  /** A1-MV: the flagship pricing-summary roll-up, answered FROM the MV:
    * coarser grouping (l_returnflag only) + a key-column filter — both
    * legs of the subsumption test — with the plan self-checked to scan
    * only the summary.
    */
  def qMvRewrite(s: SparkSession, d: String): DataFrame = {
    val mvPath = ensureMv(s, d)
    ensureRule(s, mvPath, LineitemMv)
    val df = Tables.lineitem(s, d)
      .filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(
        sum(dec(col("l_quantity"))).as("sq"),
        sum(dec(col("l_extendedprice"))).as("sp"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"),
        col("sq").cast("double").as("sum_qty"),
        col("sp").cast("double").as("sum_price"),
        col("n_rows"))
    val planStr = df.queryExecution.executedPlan.toString
    require(planStr.contains("graft_mv_lineitem_"),
      s"plan does not read the materialized view:\n$planStr")
    require(!planStr.contains("lineitem.parquet"),
      s"plan still scans the fact table:\n$planStr")
    df
  }

  val qMvRewriteSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_rows
      |FROM lineitem WHERE l_linestatus = 'F'
      |GROUP BY 1""".stripMargin

  /** A1-MV-rollup: a ROLLUP over the fact table answered from the MV —
    * the Expand's null-pattern machinery survives, but it now fans out
    * the kB-sized summary instead of the fact table (the multi-set
    * aggregation is mergeable partial algebra per grouping set). Plan
    * self-checked like q_mv_rewrite.
    */
  def qMvRollup(s: SparkSession, d: String): DataFrame = {
    val mvPath = ensureMv(s, d)
    ensureRule(s, mvPath, LineitemMv)
    val df = Tables.lineitem(s, d)
      .rollup(col("l_returnflag").as("l_returnflag"),
        col("l_linestatus").as("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n_rows"))
    val planStr = df.queryExecution.executedPlan.toString
    require(planStr.contains("graft_mv_lineitem_"),
      s"rollup plan does not read the materialized view:\n$planStr")
    require(!planStr.contains("lineitem.parquet"),
      s"rollup plan still scans the fact table:\n$planStr")
    df
  }

  val qMvRollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** The orders⋈customer revenue view: the most common BI shape —
    * fact measures pre-joined to a dimension and pre-aggregated to
    * (dim attribute, fact attribute) grain.
    */
  val OrdersCustomerMv: MvDef = MvDef("orders.parquet",
    Set("c_mktsegment", "o_orderpriority"),
    Map("o_totalprice" -> "mv_sum_total"),
    "mv_n",
    join = Some(MvJoin("customer.parquet", "o_custkey", "c_custkey")))

  def ensureJoinMv(s: SparkSession, d: String): String = {
    val dir = new java.io.File(
      s"/tmp/graft_mv_ordcust_${graft.Stage.sourceFingerprint(d, "orders")}")
    graft.Stage.ensureArtifact(s, dir) { tmp =>
      building.set(true)
      try Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(sum(dec(col("o_totalprice"))).as("mv_sum_total"),
          count(lit(1)).as("mv_n"))
        .write.parquet(tmp.getPath)
      finally building.set(false)
    }.getPath
  }

  /** A-MV-join: SPJG subsumption — a dim-grouped aggregate over
    * `orders ⋈ customer`, answered FROM the join-preserving MV: the
    * plan must scan NEITHER base table. Grouping (c_mktsegment) is a
    * subset of the MV grain, the filter touches an MV-carried fact
    * attribute, and the aggregates are mergeable partials — all three
    * subsumption legs, now through a join. Refusal paths (different
    * join key, uncarried measure, non-key filter, outer join) are
    * pinned by ExtensionsSpec: the rule falls back to the base-table
    * plan rather than fire unsoundly.
    */
  def qMvJoin(s: SparkSession, d: String): DataFrame = {
    val mvPath = ensureJoinMv(s, d)
    ensureRule(s, mvPath, OrdersCustomerMv)
    val df = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .orderBy("c_mktsegment")
    val planStr = df.queryExecution.executedPlan.toString
    require(planStr.contains("graft_mv_ordcust_"),
      s"plan does not read the join MV:\n$planStr")
    require(!planStr.contains("orders.parquet"),
      s"plan still scans the fact table:\n$planStr")
    require(!planStr.contains("customer.parquet"),
      s"plan still scans the dimension table:\n$planStr")
    df
  }

  val qMvJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_mv_rewrite", qMvRewrite, Some(qMvRewriteSql)),
    QueryDef("q_mv_rollup", qMvRollup, Some(qMvRollupSql)),
    QueryDef("q_mv_join", qMvJoin, Some(qMvJoinSql)))
}

/** Declarative MV description — what the generic rewrite rule needs to
  * know: which fact table the view summarizes (scan-path suffix), its
  * grouping keys, which DECIMAL(18,2)-sum columns it carries, and its
  * count(*) column. Registering an MV for a new fact table is one
  * MvDef, not a new rule.
  */
final case class MvDef(
    factSuffix: String,
    keys: Set[String],
    sums: Map[String, String],
    countCol: String,
    join: Option[MvJoin] = None)

/** Join-preserving MV: the view materializes `fact ⋈ dim` (inner
  * equi-join on factKey = dimKey) pre-aggregated to the MvDef's keys,
  * so a dim-grouped aggregate over the join is answered without
  * scanning EITHER base table — the standard SPJG subsumption shape
  * (select-project-join-group-by).
  */
final case class MvJoin(dimSuffix: String, factKey: String, dimKey: String)

case class MvRewriteRule(spark: SparkSession, mvPath: String, mv: MvDef)
    extends Rule[LogicalPlan] {

  // memoized per artifact publish: a SAME-PATH rebuild (the streaming
  // MV maintains generations under a deterministic dir) must not serve
  // a stale captured file listing
  private var cachedPlan: (Long, LogicalPlan) = _
  private def mvPlan: LogicalPlan = {
    val mt = new java.io.File(mvPath, "_SUCCESS").lastModified
    if (cachedPlan == null || cachedPlan._1 != mt)
      cachedPlan = (mt, PlanBridge.analyzed(spark.read.parquet(mvPath)))
    cachedPlan._2
  }
  private def mvAttr(name: String): AttributeReference =
    mvPlan.output.collectFirst {
      case a: AttributeReference if a.name == name => a
    }.getOrElse(throw new IllegalStateException(s"MV lacks column $name"))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvRewrite.building.get()) plan
    else plan.transformUp {
      case agg @ Aggregate(groups, aggExprs, exp: Expand, _) =>
        rewriteExpand(groups, aggExprs, exp).getOrElse(agg)
      case agg @ Aggregate(groups, aggExprs, child, _) =>
        rewrite(groups, aggExprs, child).getOrElse(agg)
    }

  /** Peel column-pruning Projects and collect Filters down to a scan
    * matching `isScan`; None if the subtree is anything else.
    */
  private def peelTo(p: LogicalPlan, isScan: LogicalRelation => Boolean)
      : Option[Seq[Expression]] =
    p match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        peelTo(c, isScan)
      case Filter(cond, c) =>
        peelTo(c, isScan).map(cond +: _)
      case lr: LogicalRelation if isScan(lr) => Some(Nil)
      case _ => None
    }

  private def peel(p: LogicalPlan): Option[Seq[Expression]] =
    peelTo(p, isFactScan)

  /** The SPJG source shape for a join-preserving MV: Projects/Filters
    * over `Join(fact, dim, Inner, factKey = dimKey)` (either side
    * order), each side itself peelable to its base scan. Returns every
    * Filter condition collected on the way down (they all apply to the
    * MV verbatim when they touch only MV keys — subsumption exactly as
    * in the single-table path). Anything else — another join shape,
    * extra conjuncts, an outer join — refuses: the rule never degrades
    * correctness to fire.
    */
  private def peelJoin(p: LogicalPlan, j: MvJoin): Option[Seq[Expression]] =
    p match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        peelJoin(c, j)
      case Filter(cond, c) =>
        peelJoin(c, j).map(cond +: _)
      case Join(l, r,
          Inner, Some(EqualTo(a: AttributeReference, b: AttributeReference)), _)
          if Set(a.name, b.name) == Set(j.factKey, j.dimKey) =>
        val straight = for {
          lc <- peelTo(l, isFactScan); rc <- peelTo(r, isDimScan(j))
        } yield lc ++ rc
        straight.orElse(for {
          lc <- peelTo(l, isDimScan(j)); rc <- peelTo(r, isFactScan)
        } yield lc ++ rc)
      case _ => None
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Source peel for this MV's shape: plain fact scan, or the SPJG
    * join when the MvDef declares one. For the join shape, the
    * optimizer's injected `isnotnull(<join key>)` conjuncts are
    * DROPPED rather than remapped: the MV materialized the same inner
    * join, so null-keyed rows are already absent from it — the
    * predicate is subsumed by the view definition itself.
    */
  private def peelSource(p: LogicalPlan): Option[Seq[Expression]] =
    mv.join match {
      case None => peel(p)
      case Some(j) => peelJoin(p, j).map(_.flatMap(conjuncts).filterNot {
        case IsNotNull(a: AttributeReference) =>
          a.name == j.factKey || a.name == j.dimKey
        case _ => false
      })
    }

  private def isFactScan(lr: LogicalRelation): Boolean = lr.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.exists(_.toString.endsWith(mv.factSuffix))
    case _ => false
  }

  private def isDimScan(j: MvJoin)(lr: LogicalRelation): Boolean =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.exists(_.toString.endsWith(j.dimSuffix))
      case _ => false
    }

  private def onlyKeyRefs(e: Expression): Boolean =
    e.references.forall(a => mv.keys.contains(a.name))

  private def remapToMv(e: Expression): Expression = e.transform {
    case a: AttributeReference if mv.keys.contains(a.name) => mvAttr(a.name)
  }

  /** The MV-merged replacement for one aggregate call, keeping the
    * original result type (partials re-aggregate: sum of sums, sum of
    * counts). `resolve` maps an MV column name to the attribute the
    * rewritten aggregate should reference — the MV scan's own output
    * in the plain path, the rebuilt Expand's pass-through attributes
    * in the rollup path.
    */
  private def mergedWith(ae: AggregateExpression,
      resolve: String => AttributeReference): Option[Expression] =
    if (ae.isDistinct) None
    else ae.aggregateFunction match {
      case Sum(Cast(a: AttributeReference, dt: DecimalType, _, _), _)
          if dt == DecimalType(18, 2) && mv.sums.contains(a.name) =>
        Some(Cast(Sum(resolve(mv.sums(a.name))).toAggregateExpression(),
          ae.dataType))
      case Count(Seq(l: Literal)) if l.value != null =>
        Some(Cast(Sum(resolve(mv.countCol)).toAggregateExpression(), LongType))
      case _ => None
    }

  private def mergedFor(ae: AggregateExpression): Option[Expression] =
    mergedWith(ae, mvAttr)

  /** ROLLUP / CUBE / GROUPING SETS subsumption: these compile to
    * `Aggregate(.., Expand(projections, output, factChild))`, where the
    * Expand's first |child.output| positions pass the fact columns
    * through untouched and the remaining positions hold the per-set
    * null-pattern key copies plus the grouping-id literal. The MULTI-SET
    * aggregation is itself mergeable partial algebra — each grouping
    * set's cells roll up from the MV grain independently — so the
    * rewrite keeps the Expand's null-pattern region VERBATIM (same
    * output attributes, so groups/grouping_id resolve unchanged),
    * remaps its key references onto the MV scan, and swaps the
    * pass-through region for the MV's partial columns (sum/count
    * inputs). The fact table is never scanned; the Expand now fans out
    * kB-sized MV rows.
    */
  private def rewriteExpand(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], exp: Expand): Option[LogicalPlan] = {
    if (!new java.io.File(mvPath, "_SUCCESS").exists()) return None
    val conds = peelSource(exp.child).getOrElse(return None)
    if (!conds.forall(onlyKeyRefs)) return None
    val out = exp.output
    if (!exp.projections.forall(_.size == out.size)) return None
    // classify each output position: a PASS-THROUGH forwards the same
    // child attribute in every projection AND reuses it as the output
    // attribute (the optimizer prunes these to the aggregate inputs); a
    // KEPT position is the null-pattern region — key copies under fresh
    // output attrs plus the grouping-id literals. Anything else bails.
    val keptIdx = out.indices.filterNot { j =>
      exp.projections.forall(_(j) == out(j)) &&
        exp.child.outputSet.contains(out(j))
    }
    if (keptIdx.isEmpty) return None
    val keptOk = keptIdx.forall { j =>
      exp.projections.forall {
        _(j) match {
          case a: AttributeReference => mv.keys.contains(a.name)
          case _: Literal => true
          case _ => false
        }
      }
    }
    if (!keptOk) return None
    // MV partial columns the rewritten aggregates need, as fresh
    // pass-through attributes of the rebuilt Expand
    val needed = scala.collection.mutable.LinkedHashMap[String, AttributeReference]()
    def passAttr(mvCol: String): AttributeReference =
      needed.getOrElseUpdate(mvCol, {
        val src = mvAttr(mvCol)
        AttributeReference(mvCol, src.dataType, nullable = true)()
      })
    var ok = true
    val newAggExprs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference => a // grouping/gid column pass-through
      case al: Alias =>
        val rewritten = al.child.transformUp {
          case ae: AggregateExpression =>
            mergedWith(ae, passAttr) match {
              case Some(m) => m
              case None => ok = false; ae
            }
        }
        Alias(rewritten, al.name)(exprId = al.exprId)
      case _ => return None
    }
    if (!ok) return None
    val keptAttrs = keptIdx.map(out)
    val allowed = AttributeSet(keptAttrs ++ needed.values)
    if (groups.exists(!_.references.subsetOf(AttributeSet(keptAttrs))))
      return None
    if (newAggExprs.exists(!_.references.subsetOf(allowed))) return None
    val mvChild = conds.reduceOption(And)
      .map(c => Filter(remapToMv(c), mvPlan)).getOrElse(mvPlan)
    val newProjections = exp.projections.map { p =>
      keptIdx.map(j => remapToMv(p(j))) ++ needed.keys.map(mvAttr)
    }
    val newOutput = keptAttrs ++ needed.values.toSeq
    Some(Aggregate(groups, newAggExprs,
      Expand(newProjections, newOutput, mvChild), None))
  }

  private def rewrite(groups: Seq[Expression], aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    if (!new java.io.File(mvPath, "_SUCCESS").exists()) return None
    val conds = peelSource(child).getOrElse(return None)
    // every filter between scan and aggregate must touch only MV keys
    if (!conds.forall(onlyKeyRefs)) return None
    // grouping must be plain key attributes (a subset of the MV keys)
    val groupAttrs = groups.map {
      case a: AttributeReference if mv.keys.contains(a.name) => a
      case _ => return None
    }
    // every output expression must be answerable from the MV. The
    // optimizer may have collapsed downstream Projects into the
    // aggregate list (CollapseProject), so an aggregate can sit under
    // arbitrary scalar wrapping (casts, arithmetic): rewrite every
    // AggregateExpression inside each alias tree, remap key attrs, and
    // bail if anything unrecognized or any non-MV reference survives.
    val newAggExprs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if mv.keys.contains(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al: Alias =>
        var ok = true
        // transformUp: a pre-order transform would recurse into the
        // REPLACEMENT and feed the merged Sum(mv_*) back to mergedFor
        val rewritten = al.child.transformUp {
          case ae: AggregateExpression =>
            mergedFor(ae) match {
              case Some(m) => m
              case None => ok = false; ae
            }
        }.transform {
          case a: AttributeReference if mv.keys.contains(a.name) => mvAttr(a.name)
        }
        if (!ok || !rewritten.references.forall(mvPlan.outputSet.contains))
          return None
        Alias(rewritten, al.name)(exprId = al.exprId)
      case _ => return None
    }
    val filtered = conds.reduceOption(And)
      .map(c => Filter(remapToMv(c), mvPlan)).getOrElse(mvPlan)
    Some(Aggregate(groupAttrs.map(a => mvAttr(a.name)), newAggExprs, filtered, None))
  }
}
