package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical-plan shape contracts for representative queries — the
  * properties that make plans survive a 100× scale-up, asserted so a
  * refactor that silently de-optimizes a plan (a lost broadcast, a new
  * shuffle in a scan-shaped query, a filter that stops reaching the
  * parquet scan) fails HERE with the plan printed, not as a slow row
  * in some later benchmark.
  */
class PlanShapeSpec extends SparkSpec {

  private def executed(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Every node of `plan`, with AQE's final plans and query stages
    * opened (their plans are not children).
    */
  private def flatten(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case p => p +: p.children.flatMap(flatten)
  }

  /** The executed plan of the file write to `path` that `body` runs. */
  private def writePlan(path: String)(body: => Unit): SparkPlan = {
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        flatten(qe.executedPlan).collectFirst {
          case w: DataWritingCommandExec => w.cmd
        }.collect {
          case c: InsertIntoHadoopFsRelationCommand if c.outputPath.toString.endsWith(path) =>
            plans.add(qe.executedPlan)
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus delivers asynchronously
      Option(plans.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail(s"no write to $path reached the listener"))
    } finally spark.listenerManager.unregister(listener)
  }

  private def countShuffles(df: DataFrame): Int =
    executed(df).collect { case e: ShuffleExchangeLike => e }.size

  private def countBroadcasts(df: DataFrame): Int =
    executed(df).collect { case e: BroadcastExchangeLike => e }.size

  test("scan-shaped queries plan with zero shuffles") {
    // one pass over the scan, kernel/projection only — any Exchange
    // here means a 100 TB run re-materializes the corpus for nothing
    val scanShaped = Seq(
      "t_entropy" -> graft.operators.Text.tEntropy(spark, sfDir),
      "t_quality_model" -> graft.operators.Text.tQualityModel(spark, sfDir),
      "t_tokens" -> graft.operators.Text.tTokens(spark, sfDir),
      "m_binary_meta" -> graft.multimodal.Multimodal.mBinaryMeta(spark, sfDir),
      "p_sanitise" -> graft.queries.PipelineQueries.pSanitise(spark, sfDir))
    scanShaped.foreach { case (name, df) =>
      assert(countShuffles(df) === 0,
        s"$name should be shuffle-free:\n${executed(df)}")
    }
  }

  test("bounded-side joins broadcast instead of shuffling the corpus") {
    // the query/batch side is bounded and must arrive by broadcast; the
    // corpus side streams through — the only acceptable exchanges are
    // the final window/agg shuffles on the (small) candidate set
    val brute = graft.operators.Ann.sAnnBrute(spark, sfDir)
    assert(countBroadcasts(brute) >= 1,
      s"s_ann_brute must broadcast the query batch:\n${executed(brute)}")
    val range = graft.operators.Ann.sRangeSearch(spark, sfDir)
    assert(countBroadcasts(range) >= 1,
      s"s_range_search must broadcast the batch:\n${executed(range)}")
    assert(countShuffles(range) === 0,
      s"s_range_search is a pure broadcast-scan, no shuffle:\n${executed(range)}")
    // multi-join over dims: every dim side fits a broadcast at any SF
    val q5 = graft.queries.Analytics.q5Multijoin(spark, sfDir)
    assert(countBroadcasts(q5) >= 2,
      s"q5_multijoin should broadcast its dim tables:\n${executed(q5)}")
    // t_bpe_apply's scale contract (r17): the vocabulary join must
    // arrive by broadcast — the occurrence stream is never shuffled on
    // the Zipf-skewed word key while the type table fits the cap. The
    // fallback story (AQE skew-split; types-per-doc pre-agg if that
    // ever dominates) is pinned at the operator's doc comment.
    val bpe = graft.operators.Text.tBpeApply(spark, sfDir)
    assert(executed(bpe).toString.contains("BroadcastHashJoin"),
      s"t_bpe_apply's vocabulary join must broadcast:\n${executed(bpe)}")
  }

  test("filter pushdown reaches the parquet scan") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val scans = executed(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(l_quantity"),
      s"filter not pushed: ${scan.metadata("PushedFilters")}")
    // column pruning: the scan reads only the 3 referenced columns
    assert(scan.requiredSchema.fieldNames.toSet === Set("l_orderkey", "l_quantity"),
      s"scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("kNN build stays in block form: no join carries vector pair rows") {
    // the r5 lesson: a row-per-pair join materializes ~N·probes·√N
    // joined rows each carrying two dim-wide vectors. The block form
    // has NO join at all (one assignment pass + one per-cell aggregate
    // + kernels) — a join reappearing in this plan means someone
    // reintroduced the pair stream
    val knn = graft.operators.Ann.sKnnJoin(spark, sfDir)
    val joins = executed(knn).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
      s"s_knn_join must be join-free (block form):\n${executed(knn)}")
    // the ≤Probes·k-entries-per-vector merge must keep its partial agg
    val objAggs = executed(knn).collect {
      case h: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => h
    }
    assert(objAggs.size >= 2,
      s"topk_rows must combine map-side (partial+final):\n${executed(knn)}")
  }

  test("semdedup drop scan is a per-cell kernel, not a pair self-join") {
    val flags = graft.operators.Dedup.semdedupFlags(spark, sfDir)
    val joins = executed(flags).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    // exactly the final label join survives (cells ⋈ dropped ids);
    // a second join means the a⋈b pair stream is back
    assert(joins.size <= 1,
      s"semdedup should have only the label join:\n${executed(flags)}")
  }

  test("d_substring_apply: hash-shuffle pipeline, no cartesian, no word explode") {
    val df = graft.operators.Dedup.dSubstringApply(spark, sfDir)
    val plan = executed(df)
    // any BroadcastNestedLoopJoin/CartesianProduct means the rewrite
    // degenerated into pair enumeration
    val nested = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(nested.isEmpty, s"pair-enumeration join crept in:\n$plan")
    // only the window-hash posexplode may Generate (it runs once per
    // occ consumer — dup agg and cut join — so up to 2 nodes); the
    // word arrays must stay in-row for the removal mask, so any
    // Generate over the words column is a regression
    val gens = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.size <= 2,
      s"unexpected extra explode (words left the row?), found ${gens.size}:\n$plan")
    gens.foreach { g =>
      val refs = g.boundGenerator.references.map(_.name).toSet
      assert(!refs.contains("ws"),
        s"a Generate consumes the words array:\n$plan")
    }
  }

  test("t_quality_train: model and threshold arrive by broadcast, not shuffle") {
    val df = graft.operators.Text.tQualityTrain(spark, sfDir)
    // the pruned weight table (≤ 65536 rows), the scalar consts and the
    // fitted threshold must all broadcast onto the scoring scan
    assert(countBroadcasts(df) >= 3,
      s"model/consts/threshold should broadcast:\n${executed(df)}")
    // no corpus-wide distinct: per-doc feature sets are in-row. The
    // surviving exchanges are the two real aggs (groupBy(feat),
    // groupBy(doc_id)), the scalar/quantile single-partition aggs and
    // the cached-score output join — ~10 total, every one over a
    // bounded or cached relation (was 34 before the score cache, with
    // the whole train+score pipeline re-run per quantile pass)
    val shuffles = countShuffles(df)
    assert(shuffles <= 12,
      s"expected the bounded train/score aggs only, got $shuffles:\n${executed(df)}")
  }

  test("round-9 operators keep their scale-critical plan shapes") {
    // t_chunk: pure per-row HOF work — zero exchanges anywhere
    val chunk = graft.operators.Text.tChunk(spark, sfDir)
    assert(countShuffles(chunk) === 0,
      s"t_chunk should be shuffle-free:\n${executed(chunk)}")
    // t_heavy_hitters: the candidate set and the token total must both
    // arrive by broadcast; the only shuffles are the bounded
    // candidate-distinct and the candidate-only count agg
    val hh = graft.operators.Text.tHeavyHitters(spark, sfDir)
    assert(countBroadcasts(hh) >= 2,
      s"t_heavy_hitters must broadcast candidates + total:\n${executed(hh)}")
    // p_profile (r16 shape): TWO scans — the Expand multi-distinct pass
    // (hash-aggregated: the r16 split moved every immutable-buffer
    // string min/max out, so the 7×-expanded rows are never sorted) and
    // a second scan COLUMN-PRUNED to exactly the two string columns for
    // the Expand-free string min/max agg. The Expand side must carry NO
    // SortAggregate (the r15 shape sorted the whole Expand twice), and
    // no scan may read more than once per purpose — still never
    // per-column rescans.
    val prof = graft.queries.PipelineQueries.pProfile(spark, sfDir)
    val profScans = executed(prof).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(profScans.size === 2,
      s"p_profile: one Expand pass + one pruned string pass:\n${executed(prof)}")
    assert(profScans.count(_.schema.fieldNames.toSet ==
        Set("o_orderstatus", "o_orderpriority")) === 1,
      s"p_profile's second scan must be pruned to the string columns:\n${executed(prof)}")
    val profSortAggsOverExpand = executed(prof).collect {
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec
          if a.find(_.isInstanceOf[org.apache.spark.sql.execution.ExpandExec]).isDefined => a
    }
    assert(profSortAggsOverExpand.isEmpty,
      s"p_profile's Expand pass must stay hash-aggregated:\n${executed(prof)}")
    // p_cdc_apply: one partial agg pair, max two shuffles (union + agg)
    val cdc = graft.queries.PipelineQueries.pCdcApply(spark, sfDir)
    assert(countShuffles(cdc) <= 2,
      s"p_cdc_apply should shuffle once for the merge agg:\n${executed(cdc)}")
    // s_hybrid: query batch broadcast; corpus never shuffled before
    // scoring — exchanges only for the rank windows on scored rows
    val hy = graft.operators.Ann.sHybrid(spark, sfDir)
    assert(countBroadcasts(hy) >= 1,
      s"s_hybrid must broadcast the query batch:\n${executed(hy)}")
    // s_maxsim: the bounded query-doc side broadcasts into the rerank
    // join, and the fused kernel stays inside whole-stage codegen (a
    // CodegenFallback HOF chain would print the lambda scoring tree)
    val ms = graft.operators.Ann.sMaxsim(spark, sfDir)
    assert(countBroadcasts(ms) >= 1,
      s"s_maxsim must broadcast the query docs:\n${executed(ms)}")
    assert(!executed(ms).toString.contains("aggregate(lambda"),
      s"s_maxsim scoring must be the fused kernel, not HOFs:\n${executed(ms)}")
    // q_lateral: the correlated ORDER BY/LIMIT lateral decorrelates
    // into a map-side-limited partitioned rank (WindowGroupLimit) —
    // never a per-order nested-loop re-execution or a cartesian
    val lat = graft.queries.Analytics.qLateral(spark, sfDir)
    val latPlan = executed(lat).toString
    assert(latPlan.contains("WindowGroupLimit"),
      s"q_lateral must decorrelate to a group-limited rank:\n$latPlan")
    assert(!latPlan.contains("CartesianProduct") &&
      !latPlan.contains("BroadcastNestedLoopJoin"),
      s"q_lateral must not plan a per-row loop join:\n$latPlan")
  }

  test("behavioral/layout operators keep their scale-critical plan shapes") {
    // q_funnel: ONE shuffle on user_id (the sorted-walk groupBy) plus
    // the single-row final agg — never a per-stage join cascade
    val fun = graft.queries.Behavior.qFunnel(spark, sfDir)
    assert(countShuffles(fun) <= 2,
      s"q_funnel should shuffle events once:\n${executed(fun)}")
    // q_retention: per-user compression shuffle + tiny cohort agg +
    // the range exchange for the output sort of the few-hundred-cell
    // matrix (events themselves shuffle exactly once)
    val ret = graft.queries.Behavior.qRetention(spark, sfDir)
    assert(countShuffles(ret) <= 3,
      s"q_retention should shuffle events once:\n${executed(ret)}")
    // q_attribution: one window shuffle+sort, then the channel agg —
    // crucially no self-join of events against events
    val attr = graft.queries.Behavior.qAttribution(spark, sfDir)
    assert(countShuffles(attr) <= 3,
      s"q_attribution is one window pass:\n${executed(attr)}")
    assert(executed(attr).collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.isEmpty, s"q_attribution must not join:\n${executed(attr)}")
    // p_bloom_index: the point lookup reads only admitted files — the
    // scan's file count is a fraction of the 64-file layout
    val (_, manifest) = graft.pipeline.BloomIndex.ensureIndex(spark, sfDir)
    val keys = graft.pipeline.BloomIndex.probeKeys(spark, sfDir)
    val lookup = graft.pipeline.BloomIndex.pBloomIndex(spark, sfDir)
    val scanned = executed(lookup).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }
    assert(scanned.nonEmpty && scanned.min <= keys.size + 2,
      s"p_bloom_index scan reads ${scanned.mkString(",")} files " +
        s"of ${manifest.count()} — no skipping")
  }

  test("MV rewrite: fires only when the view subsumes the query, never degrades correctness") {
    import org.apache.spark.sql.functions._
    import graft.queries.QueryDef.dec
    val mvPath = graft.plans.MvRewrite.ensureMv(spark, sfDir)
    graft.plans.MvRewrite.ensureRule(spark, mvPath, graft.plans.MvRewrite.LineitemMv)
    def readsMv(df: DataFrame) =
      df.queryExecution.executedPlan.toString.contains("graft_mv_lineitem_")
    val li = Tables.lineitem(spark, sfDir)

    // subsumed roll-up (exact MV grain): rewritten AND value-identical
    // to a computation the rule cannot touch (grouping on a non-key
    // column disables it)
    val fine = li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sq"), count(lit(1)).as("n"))
    assert(readsMv(fine), "exact-grain query should read the MV")
    val fineRaw = li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(dec(col("l_quantity")) + lit(0).cast("decimal(18,2)"))
        .cast("double").as("sq"), count(lit(1)).as("n"))
    // (raw twin guaranteed un-rewritten: its sum tree is unrecognizable)
    assert(!readsMv(fineRaw))
    val a = fine.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    val b = fineRaw.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    assert(a === b)

    // compositional coverage: an average in the house ratio form
    // (sum/count, the engine-exact avg contract) contains TWO
    // aggregate calls under one alias — both rewrite independently
    // and the ratio is answered from the MV
    val avgRatio = li.groupBy("l_returnflag")
      .agg((sum(dec(col("l_quantity"))).cast("double") / count(lit(1)))
        .as("avg_qty"))
    assert(readsMv(avgRatio), "ratio-form average should read the MV")
    val avgRaw = li.groupBy("l_returnflag")
      .agg((sum(dec(col("l_quantity")) + lit(0).cast("decimal(18,2)")).cast("double")
        / count(lit(1))).as("avg_qty"))
    assert(avgRatio.collect().map(r => (r.getString(0), r.getDouble(1))).toSet ===
      avgRaw.collect().map(r => (r.getString(0), r.getDouble(1))).toSet)

    // ROLLUP subsumption: the Expand machinery re-roots onto the MV and
    // the multi-set cells equal the un-rewritten twin's exactly
    val roll = li.rollup(col("l_returnflag").as("l_returnflag"),
        col("l_linestatus").as("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        sum(dec(col("l_quantity"))).cast("double").as("sq"), count(lit(1)).as("n"))
    assert(readsMv(roll), "rollup over MV keys should read the MV")
    val rollRaw = li.rollup(col("l_returnflag").as("l_returnflag"),
        col("l_linestatus").as("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        sum(dec(col("l_quantity")) + lit(0).cast("decimal(18,2)"))
          .cast("double").as("sq"), count(lit(1)).as("n"))
    assert(!readsMv(rollRaw))
    assert(
      roll.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet ===
      rollRaw.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet)

    // CUBE rides the same Expand matcher with zero extra code
    val cube = li.cube(col("l_returnflag").as("l_returnflag"),
        col("l_linestatus").as("l_linestatus"))
      .agg(count(lit(1)).as("n"))
    assert(readsMv(cube), "cube over MV keys should read the MV")

    // a rollup including a NON-key column must keep the fact scan
    val rollNonKey = li.rollup(col("l_returnflag").as("l_returnflag"),
        col("l_shipdate").as("l_shipdate"))
      .agg(count(lit(1)).as("n"))
    assert(!readsMv(rollNonKey), "non-key rollup dimension breaks subsumption")

    // an aggregate the MV cannot answer keeps the fact-table scan
    val unanswerable = li.groupBy("l_returnflag")
      .agg(sum(dec(col("l_discount"))).as("sd"))
    assert(!readsMv(unanswerable), "sum(l_discount) is not in the MV")

    // a filter on a NON-key column keeps the fact-table scan
    val nonKeyFilter = li.filter(col("l_quantity") > 10)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    assert(!readsMv(nonKeyFilter), "non-key filter breaks subsumption")

    // a DISTINCT aggregate keeps the fact-table scan
    val distinctAgg = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_linestatus")).as("nd"))
    assert(!readsMv(distinctAgg), "distinct aggregate is not mergeable")

    // generality: one MvDef registers a view over a DIFFERENT fact
    // table -- same rule machinery, zero new matching code
    val evPath = graft.plans.MvRewrite.ensureEventsMv(spark, sfDir)
    graft.plans.MvRewrite.ensureRule(spark, evPath, graft.plans.MvRewrite.EventsMv)
    val evAgg = Tables.events(spark, sfDir).select("event_type", "value")
      .groupBy("event_type")
      .agg(sum(dec(col("value"))).cast("double").as("sv"), count(lit(1)).as("n"))
    assert(evAgg.queryExecution.executedPlan.toString.contains("graft_mv_events_"),
      s"events query should read the events MV:\n${evAgg.queryExecution.executedPlan}")
    val evRaw = Tables.events(spark, sfDir).select("event_type", "value")
      .groupBy("event_type")
      .agg(sum(dec(col("value")) + lit(0).cast("decimal(18,2)")).cast("double").as("sv"),
        count(lit(1)).as("n"))
    val ga = evAgg.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val gb = evRaw.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(ga === gb)
  }

  test("join MV (SPJG) rewrite: fires on the subsumed shape only, never degrades correctness") {
    import org.apache.spark.sql.functions._
    import graft.queries.QueryDef.dec
    val mvPath = graft.plans.MvRewrite.ensureJoinMv(spark, sfDir)
    graft.plans.MvRewrite.ensureRule(spark, mvPath,
      graft.plans.MvRewrite.OrdersCustomerMv)
    def readsMv(df: DataFrame) =
      df.queryExecution.executedPlan.toString.contains("graft_mv_ordcust_")
    val orders = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    def joined = orders.join(cust, col("o_custkey") === col("c_custkey"))

    // the subsumed shape: dim-grouped, MV-key filter, carried measures
    val sub = joined.filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
    assert(readsMv(sub), "subsumed join aggregate should read the MV")
    // value-identical to the un-rewritable twin over the base tables
    val raw = joined.filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice")) + lit(0).cast("decimal(18,2)"))
          .cast("double").as("total"))
    assert(!readsMv(raw))
    assert(sub.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      === raw.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet)

    // either join-side order matches (dim written on the left)
    val swapped = cust.join(orders, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    assert(readsMv(swapped), "dim-on-the-left should still rewrite")

    // REFUSALS — every leg of the subsumption test, independently:
    // (1) a different join key is a different view
    val wrongKey = orders.join(cust, col("o_custkey") === col("c_nationkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    assert(!readsMv(wrongKey), "wrong join key must refuse")
    // (2) an OUTER join has different semantics than the inner MV
    val outer = orders.join(cust,
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    assert(!readsMv(outer), "outer join must refuse")
    // (3) a measure the MV does not carry
    val uncarried = joined.groupBy("c_mktsegment")
      .agg(sum(dec(col("c_acctbal"))).cast("double").as("sb"))
    assert(!readsMv(uncarried), "uncarried measure must refuse")
    // (4) a filter on a non-key column
    val nonKeyFilter = joined.filter(col("o_totalprice") > 1000)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    assert(!readsMv(nonKeyFilter), "non-key filter must refuse")
    // (5) grouping by a non-key column
    val nonKeyGroup = joined.groupBy("c_nationkey").agg(count(lit(1)).as("n"))
    assert(!readsMv(nonKeyGroup), "non-key grouping must refuse")
    // and every refused query still answers correctly from base tables
    assert(wrongKey.collect().nonEmpty && outer.collect().nonEmpty
      && uncarried.collect().nonEmpty && nonKeyFilter.collect().nonEmpty
      && nonKeyGroup.collect().nonEmpty)
  }

  test("from_json schemas are pruned to consumed fields (envelope parse / export shape)") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.functions.col
    // the 100 TB contract: when a consumer touches only a FIELD of the
    // parsed struct, the from_json in the plan must carry a REDUCED
    // schema — parsing the full envelope (dbObject is the payload, the
    // overwhelming majority of the bytes) for a metadata-only query
    // would do the whole corpus's JSON work for nothing. This pruning
    // is Catalyst's OptimizeJsonExprs + nested-schema pruning and is
    // version-sensitive — pinned here so an upgrade can't silently
    // regress it.
    def jsonSchemas(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan
        .collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case j: JsonToStructs => j.schema.sql })

    // p_envelope_parse consumes db/collection/crypto/lm but NOT the
    // dbObject payload and NOT the unused key-id fields
    val env = graft.queries.PipelineQueries.pEnvelopeParse(spark, sfDir)
    val envSchemas = jsonSchemas(env)
    assert(envSchemas.nonEmpty, "envelope parse lost its from_json")
    assert(envSchemas.forall(s => !s.contains("dbObject")),
      s"dbObject payload survived pruning: $envSchemas")
    assert(envSchemas.forall(s => !s.contains("keyEncryptionKeyId")),
      s"unused crypto fields survived pruning: $envSchemas")

    // a single-field consumer prunes all the way down to that field
    val one = graft.pipeline.Envelope
      .parse(graft.pipeline.Envelope.synthesizeCached(spark, sfDir))
      .select(col("db"))
    val oneSchemas = jsonSchemas(one)
    assert(oneSchemas.nonEmpty && oneSchemas.forall(s =>
      s.contains("db") && !s.contains("encryption") && !s.contains("dbObject")),
      s"single-field consumer should parse only that field: $oneSchemas")

    // p_json_extract aggregates lang/n_chars; the text payload and
    // source must not be materialized by its export-shape from_json
    val jx = graft.queries.PipelineQueries.pJsonExtract(spark, sfDir)
    val jxSchemas = jsonSchemas(jx)
    assert(jxSchemas.nonEmpty, "json extract lost its from_json")
    assert(jxSchemas.forall(s => !s.contains("text") && !s.contains("source")),
      s"unconsumed payload fields survived pruning: $jxSchemas")
  }

  test("from_json with non-default options is never pruned (FAILFAST observability)") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.functions.{col, from_json}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // Pruning a FAILFAST parse changes observable behavior: a malformed
    // pruned-away field would stop erroring. The rule must mirror
    // OptimizeCsvJsonExprs's options.isEmpty guard and leave the full
    // schema in place — for both the inlined single-use chain and the
    // aliased multi-use shape.
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType)))
    def schemas(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan
        .collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case j: JsonToStructs => j.schema.sql })
    val src = spark.range(4).selectExpr(
      """concat('{"a":"x","b":"', CAST(id AS STRING), '"}') AS v""")
    val inlined = src
      .withColumn("j", from_json(col("v"), schema, Map("mode" -> "FAILFAST")))
      .select(col("j").getField("a").as("a"))
    val aliased = src
      .withColumn("j", from_json(col("v"), schema, Map("mode" -> "FAILFAST")))
      .select(col("j").getField("a").as("x"), col("j").getField("a").as("y"))
    Seq(inlined, aliased).foreach { df =>
      val ss = schemas(df)
      assert(ss.nonEmpty, "parse disappeared from the plan")
      assert(ss.forall(_.contains("b")),
        s"FAILFAST from_json was pruned — mode semantics lost: $ss")
      assert(df.collect().length === 4)
    }
  }

  test("q_variant parses each line ONCE; field access walks the binary, never re-parses") {
    val df = graft.queries.PipelineQueries.qVariant(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    // the VARIANT contract vs get_json_object: one parseJson per row,
    // materialized in its own Project; every extraction references it
    assert("parseJson".r.findAllIn(plan).length === 1,
      s"parse_json must appear exactly once:\n$plan")
    assert("variant_get".r.findAllIn(plan).length === 4,
      s"expected 4 variant extractions over the single parse:\n$plan")
    // and the STORED-variant path never parses at all — stronger: the
    // optimizer pushes the extraction INTO the parquet scan
    // (PushVariantIntoScan shreds the requested paths into struct
    // fields of the relation output), so not even a variant_get
    // expression survives above the scan
    val stored = graft.queries.PipelineQueries.qVariantStore(spark, sfDir)
    val storedPlan = stored.queryExecution.optimizedPlan.toString
    assert("parseJson".r.findAllIn(storedPlan).isEmpty,
      s"stored-variant query must not re-parse JSON:\n$storedPlan")
    assert(!storedPlan.contains("variant_get"),
      s"variant extraction should be pushed into the scan as shredded fields:\n$storedPlan")
  }

  test("p_json_extract_variant: read path has zero JSON parses (parse-once store)") {
    // same contract as q_variant_store, applied to the Hive-export
    // path: after the ingest-side artifact exists, the registered
    // query's plan must contain no from_json/parse_json — the whole
    // point of the variant swap for the slowest sf1 reference row
    val df = graft.queries.PipelineQueries.pJsonExtractVariant(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert("parseJson".r.findAllIn(plan).isEmpty,
      s"variant export read path must not re-parse JSON:\n$plan")
    assert(!plan.contains("from_json"),
      s"variant export read path must not carry from_json:\n$plan")
    // and it must agree with the per-row-parse path it replaces
    val classic = graft.queries.PipelineQueries.pJsonExtract(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val variant = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(variant === classic)
  }

  test("global-rank family plans with NO unpartitioned window sort (two-phase range rank)") {
    // the round-14 verdict's scale-killer: these four used to funnel an
    // entity- or corpus-scale total order through ONE task's
    // Window.orderBy sort. After the RangeRank re-root, every WindowExec
    // left in any of the four plans must carry a non-empty partitionSpec
    // (a hash-distributed per-bucket or per-key sort) — an empty one
    // means the single-task global sort crept back.
    val four = Seq(
      "q_gini" -> graft.queries.Stats.qGini(spark, sfDir),
      "q_histogram_eqd" -> graft.queries.Behavior.qHistogramEqd(spark, sfDir),
      "q_concentration" -> graft.queries.Stats.qConcentration(spark, sfDir),
      "q_mwu" -> graft.queries.Stats.qMwu(spark, sfDir))
    four.foreach { case (name, df) =>
      val bad = executed(df).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name has an unpartitioned (single-task) window sort:\n${executed(df)}")
      // and no global-order exchange either: the only sorts allowed are
      // per-bucket local ones under a hash partitioning (q_concentration
      // additionally gets its top-10 via TakeOrderedAndProject)
      val rangeEx = executed(df).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
      }
      assert(rangeEx.isEmpty,
        s"$name plans a global range-sort exchange:\n${executed(df)}")
    }
  }

  test("CDI daily and snapshot writes cluster without a range-partitioning exchange") {
    // a range exchange samples its child in a job of its own: for
    // writeDaily that reruns the whole decrypt/validate chain
    val daily = graft.pipeline.Ingest.dailyIncrement(graft.pipeline.Ingest.pipeline(
      graft.pipeline.Envelope.synthesize(spark, sfDir)), "2021-06-15")
    val out = java.nio.file.Files.createTempDirectory("graft_write_plans")
    val writes = Seq[(String, String => Unit)](
      "writeDaily" -> (graft.pipeline.Ingest.writeDaily(daily, _)),
      "writeSnapshot" -> (graft.pipeline.Snapshot.writeSnapshot(
        daily.select("id", "db_type", "val", "id_part"), _)))
    writes.foreach { case (name, write) =>
      val path = out.resolve(name).toString
      val plan = writePlan(path)(write(path))
      val exchanges = flatten(plan).collect { case e: ShuffleExchangeLike => e }
      assert(exchanges.nonEmpty, s"$name plans no clustering exchange:\n$plan")
      val range = exchanges.filter(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning])
      assert(range.isEmpty, s"$name plans a range-partitioning exchange:\n$plan")
    }
    Stage.deleteRecursively(out.toFile)
  }

  test("aggregations keep map-side partial aggregation") {
    val q1 = graft.queries.Analytics.q1Agg(spark, sfDir)
    val aggs = executed(q1).collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    // partial + final pair around one exchange — losing the partial
    // turns a map-side-combined shuffle into shuffling every input row
    assert(aggs.size >= 2, s"expected partial+final agg:\n${executed(q1)}")
    assert(countShuffles(q1) <= 2,
      s"q1_agg should shuffle once for the agg (plus optional sort):\n${executed(q1)}")
  }
}
