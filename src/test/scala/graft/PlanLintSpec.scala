package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Fleet-wide physical-plan lint: every registered query's plan is
  * swept for the two join shapes that do not survive a 100 TB corpus —
  * CartesianProduct (both sides streamed pairwise) and
  * BroadcastNestedLoopJoin (per-row scan of the broadcast side) —
  * outside an explicit, per-entry-justified allow-list of queries
  * whose offending side is BOUNDED by construction (a query batch, a
  * stats row, a manifest). PlanShapeSpec pins richer per-family
  * contracts (pushdown, broadcast choice, block form); this spec is
  * the coarse tripwire that catches a silent planner change ANYWHERE
  * in the fleet — previously that audit was the interactive
  * graft.Explain tool, i.e. manual.
  *
  * A companion test pins every `.collect()` site in product code to a
  * per-file budget: a new driver-side materialization must be added
  * here with a boundedness justification before it can land.
  */
class PlanLintSpec extends SparkSpec {

  /** Full physical traversal: through AQE wrappers (QueryStageExec
    * plans are NOT children — the SKILL.md gotcha), into reused
    * subtrees, and into every node's subquery plans (a cartesian can
    * hide inside a scalar subquery).
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    inner ++ p.subqueries.flatMap(flatten)
  }

  /** Queries whose plan legitimately carries a nested-loop/cartesian
    * node, each with the boundedness argument. Every entry must keep
    * exhibiting the node (hygiene assert below) so the list can't rot.
    */
  private val allowed: Map[String, String] = Map(
    "d_centrality" -> "fixed-point PageRank constants: one-row aggregates (node count, dangling mass) crossed into each unrolled iteration",
    "p_crypto_shred" -> "anti/semi join against the broadcast ONE-ROW revoked-key frame",
    "p_expectations" -> "cross with the one-row expectation-thresholds aggregate",
    "p_profile" -> "cross of the two one-row profile aggregates (hash-based multi-distinct stats × the Expand-free string min/max agg — the r16 SortAggregate split)",
    "p_zorder" -> "cross with the one-row quantile cut-point frame",
    "q_bitmap_intersect" -> "non-equi self-join of per-segment bitmaps: one row per l_returnflag value, bounded by the flag domain at any SF",
    "q_cms_freq" -> "cross with the one-row CMS sketch aggregate",
    "q_bitemporal" -> "non-equi broadcast join against the THREE-ROW (valid_at, tx_at) anchor frame — bounded nested loop, never data x data",
    "q_rfm" -> "cross with the one-row corpus max-timestamp aggregate (the recency anchor)",
    "q_regression" -> "cross with the one-row min-day aggregate (the x-axis anchor)",
    "q_chisq" -> "cross with the one-row grand-total aggregate (the expected-count denominator)",
    "q_mwu" -> "one-row × one-row cross of the two segments' rank summaries",
    "q_concentration" -> "cross with the one-row (count, total-cents) aggregate (the share denominator)",
    "q_assoc_rules" -> "cross with the one-row basket-count aggregate (the support denominator)",
    "q_forecast_snaive" -> "cross with the one-row max-day aggregate (the backtest horizon anchor)",
    "q_survival" -> "cross with the one-row corpus max-day aggregate (the censoring horizon)",
    "t_jsd" -> "cross with the one-row shard-totals aggregate (the two probability denominators)",
    "t_fano" -> "cross with the one-row doc-count aggregate (the zero-including denominator)",
    "s_kmeans" -> "k-row seed-centroid frame broadcast into the assignment scan (bounded by k, the distributed Lloyd step)",
    "s_silhouette" -> "the same k-row seed frame broadcast into the margin scan (composes with s_kmeans)",
    "s_kmeans_iter" -> "k-row seed/centroid frames broadcast into the two assignment scans (the per-iteration Lloyd broadcasts)",
    "p_retention_sweep" -> "cross with the one-row corpus max-timestamp aggregate (the deterministic audit anchor)",
    "q_scalar_subq" -> "scalar subquery materialized as a one-row cross (the operator under test)",
    "s_ann_brute" -> "broadcast bounded query batch — the documented plan-pinned correctness baseline",
    "s_ann_eval" -> "composes each method's brute ground truth: same bounded query batch, once per method",
    "s_ann_lsh_tune" -> "one-row possible-count aggregate crossed onto the 4-row per-L readout, plus the brute truth's bounded query-batch cross",
    "s_ann_pq" -> "bounded query batch crossed with the code scan for ADC lookup",
    "s_ann_sq" -> "bounded query batch crossed with the int8 code scan",
    "s_hybrid" -> "bounded query batch broadcast-crossed for the lexical+vector rankings",
    "s_knn_classify" -> "bounded incoming batch broadcast against the corpus (documented linear scan)",
    "s_mmr" -> "bounded query batch brute shortlist — the swappable baseline; s_mmr_ivf is the indexed path and must stay BNLJ-free",
    "s_range_search" -> "bounded query batch broadcast, pure scan (plan-pinned shuffle-free)",
    "s_triplet_mine" -> "bounded anchor batch broadcast over one cached corpus pass",
    "t_bm25" -> "cross with the one-row corpus-stats aggregate (n_docs, total_tokens); candidates come from the postings join",
    "t_bm25_wand" -> "the same one-row corpus-stats cross, appearing once per scoring pass (max-score index, seed scoring, survivor scoring)",
    "t_cooccur" -> "one-row corpus-total aggregates crossed into the PMI scoring",
    "t_dsir" -> "one-row model-totals aggregate crossed onto the 256-row bucket-model frame",
    "t_heavy_hitters" -> "broadcast Misra-Gries candidate set (≤ budget rows) verify join",
    "t_langid" -> "cross with the bounded language-profile table (one row per language)",
    "t_langid_eval" -> "inherits t_langid's bounded language-profile cross (composes the classifier verbatim)",
    "t_perplexity" -> "cross with the one-row model-normalization aggregate",
    "t_quality_train" -> "one-row training statistics (class priors, feature totals) crossed into scoring",
    "t_tfidf" -> "cross with the one-row document-count aggregate",
  )

  test("fleet plan lint: no CartesianProduct/BroadcastNestedLoopJoin outside the allow-list") {
    val offenders = scala.collection.mutable.SortedMap[String, Seq[String]]()
    val exhibiting = scala.collection.mutable.Set[String]()
    val failed = scala.collection.mutable.SortedMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val bad = flatten(df.queryExecution.executedPlan).collect {
          case _: CartesianProductExec => "CartesianProduct"
          case j: BroadcastNestedLoopJoinExec => s"BroadcastNestedLoopJoin(${j.joinType})"
        }
        if (bad.nonEmpty) {
          exhibiting += name
          if (!allowed.contains(name)) offenders(name) = bad
        }
      } catch {
        case e: Exception => failed(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    assert(failed.isEmpty, s"queries failed to plan: $failed")
    assert(offenders.isEmpty,
      offenders.map { case (n, b) => s"$n: ${b.mkString(", ")}" }
        .mkString("un-allow-listed nested-loop plans:\n", "\n", ""))
    // hygiene: an allow-list entry whose plan no longer carries the
    // node is stale — prune it so the list stays an accurate audit
    val stale = allowed.keySet -- exhibiting
    assert(stale.isEmpty, s"stale allow-list entries (no longer exhibit the node): $stale")
  }

  /** Per-file `.collect()` budgets for product code. Every site is a
    * driver-side materialization; each file's budget is justified by
    * what its sites collect — all BOUNDED sets, never data-scale rows.
    * Adding a collect anywhere bumps a count and fails here until the
    * new site is reviewed and the budget + justification updated.
    */
  private val collectBudget: Map[String, (Int, String)] = Map(
    "pipeline/Layout.scala" -> (5, "z-order cut points (fixed quantile grid), ≤3-row clone/optimize manifests"),
    "pipeline/HiveChain.scala" -> (5, "DDL column lists and ≤3-row plan-materialization contracts"),
    "operators/Ann.scala" -> (5, "quantizer training samples capped by limit(), 64-row SQ stats, cell manifests"),
    "streaming/Streaming.scala" -> (4, "bounded per-batch commit manifests, test-fixture builders, and st_drift's ≤bucket-count baseline model (the langid-profile pattern)"),
    "pipeline/BloomIndex.scala" -> (2, "per-file bloom summaries: one row per data file"),
    "queries/Cbo.scala" -> (1, "CBO stats row (one row per table)"),
    "queries/Analytics.scala" -> (1, "distinct-key resolution for the pivot header (bounded domain)"),
    "pipeline/KeyService.scala" -> (1, "key-id manifest (one row per encryption key)"),
    "operators/Text.scala" -> (1, "Misra-Gries candidate set (≤ heavy-hitter budget rows)"),
    "operators/Skew.scala" -> (1, "skewed-key sample for salting decision (bounded top-N)"),
    "operators/RangeRank.scala" -> (2, "per-(group,bucket) count grid for rank prefix offsets (≤ |groups|·buckets rows); tieSplit composite-boundary sample (≤ 64·buckets rows by sampling fraction)"),
  )

  /** Every product source file as (path relative to the package root,
    * contents).
    */
  private def productSources: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    walk(root).map(f => f.getPath.stripPrefix("src/main/scala/graft/") ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("driver-collect lint: every product .collect() site is within its reviewed budget") {
    val found = productSources.map { case (rel, src) =>
      rel -> "\\.collect\\(\\)".r.findAllIn(src).size
    }.filter(_._2 > 0).toMap
    val over = found.filter { case (f, n) => n > collectBudget.get(f).map(_._1).getOrElse(0) }
    assert(over.isEmpty,
      s"unreviewed .collect() sites (file -> found, budgeted): " +
        over.map { case (f, n) => s"$f -> $n, ${collectBudget.get(f).map(_._1).getOrElse(0)}" }.mkString("; "))
    val stale = collectBudget.filter { case (f, (n, _)) => found.getOrElse(f, 0) < n }
    assert(stale.isEmpty,
      s"stale collect budgets (site count dropped — tighten): ${stale.keys.mkString(", ")}")
  }

  /** Reviewed budget of windows with no partitionBy per product file:
    * Spark runs such a window's whole input through one task ("No
    * Partition Defined for Window operation"). The count covers
    * `Window.orderBy(`, `Window.rowsBetween(`, `OVER (ORDER BY` and
    * `OVER ()` on code lines, DuckDB oracle SQL included.
    */
  private val windowBudget: Map[String, (Int, String)] = Map(
    "operators/Text.scala" -> (10, "global top-k after a 64-way partitioned pre-rank (≤ 64·k rows), BPE symbol rank and cumulative score quantiles over grouped tables; half are the oracle twins"),
    "queries/Stats.scala" -> (9, "rank, decile and cumulative windows over per-customer or per-lifetime aggregates, and an OVER () total over chi-square cells"),
    "queries/Behavior.scala" -> (7, "top-10 path rank over grouped path counts, and OVER () totals over ≤ 10-row digit, weekday and variant aggregates"),
    "operators/Ann.scala" -> (3, "row numbers of the LIMIT-bounded Lloyd training sample"),
  )

  test("window lint: every window with no partitionBy is within its file's reviewed budget") {
    val patterns = Seq("Window.orderBy(", "Window.rowsBetween(", "OVER (ORDER BY", "OVER ()")
    def isComment(line: String) = Seq("*", "//", "/*").exists(line.trim.startsWith)
    val found = productSources.map { case (rel, src) =>
      rel -> src.linesIterator.filterNot(isComment)
        .map(line => patterns.map(p => scala.util.matching.Regex.quote(p).r.findAllIn(line).size).sum).sum
    }.filter(_._2 > 0).toMap
    val over = found.filter { case (f, n) => n > windowBudget.get(f).map(_._1).getOrElse(0) }
    assert(over.isEmpty,
      s"unreviewed unpartitioned windows (file -> found, budgeted): " +
        over.map { case (f, n) => s"$f -> $n, ${windowBudget.get(f).map(_._1).getOrElse(0)}" }.mkString("; "))
    val stale = windowBudget.filter { case (f, (n, _)) => found.getOrElse(f, 0) < n }
    assert(stale.isEmpty,
      s"stale window budgets (site count dropped — tighten): ${stale.keys.mkString(", ")}")
  }

  /** Build-once directories publish only through the filesystem seam
    * (Stage.ensureArtifact / publishDir): a raw `renameTo` bypasses
    * SPARK_GRAFT_FS, and a fixed `".build"` staging name lets two
    * builders interleave into one tree and publish it sealed as
    * complete (FsOps.stagingDir).
    */
  test("build-once lint: no raw renameTo or fixed .build staging name outside fs/") {
    val hits = for {
      (rel, src) <- productSources if !rel.startsWith("fs/")
      (line, i) <- src.linesIterator.zipWithIndex
      if line.contains("renameTo(") || line.contains("\".build\"")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("raw build-once publishes:\n", "\n", ""))
  }

  /** Session state has one home: every session comes from
    * `Graft.builder` (which installs GraftExtensions), the only
    * call-time optimizer install is MvRewrite's path-keyed rule, and
    * every temporary conf change goes through `Stage.withConf`.
    */
  test("session-state lint: builder, experimental and conf.unset each live in one file") {
    val home = Seq(
      "SparkSession.builder" -> "Graft.scala",
      ".experimental" -> "plans/MvRewrite.scala",
      "conf.unset(" -> "Stage.scala")
    val strays = for {
      (call, allowed) <- home
      (rel, src) <- productSources
      if src.contains(call) && rel != allowed
    } yield s"$call in $rel (allowed only in $allowed)"
    assert(strays.isEmpty, strays.mkString("session state outside its home:\n", "\n", ""))
  }

  /** The engine is a client of every service it talks to: a loopback
    * server standing in for one is a test fixture and lives in
    * src/test.
    */
  test("fixture lint: no com.sun.net.httpserver server in product code") {
    val hits = productSources.collect {
      case (rel, src) if src.contains("com.sun.net.httpserver") => rel
    }
    assert(hits.isEmpty, hits.mkString("loopback servers in product code:\n", "\n", ""))
  }

  /** An alarm on a metric nothing emits can never fire: every rule in
    * `AlertRules.standard` must watch a metric some product file other
    * than Alerts.scala emits as a literal name.
    */
  test("alarm lint: every standard alert rule watches a metric product code emits") {
    val emitters = productSources.filter(_._1 != "pipeline/Alerts.scala")
    val silent = graft.pipeline.AlertRules.standard().map(_.metric).distinct.filterNot { m =>
      val call = ("\\.(counter|gauge|timing)\\(\\s*\"" + java.util.regex.Pattern.quote(m) + "\"").r
      emitters.exists { case (_, src) => call.findFirstIn(src).nonEmpty }
    }
    assert(silent.isEmpty, silent.mkString("alert rules on metrics nothing emits: ", ", ", ""))
  }

  /** The CDI job's path writers bind `file:` to the fork-free
    * NioLocalFileSystem through their writer options, and that binding
    * has one home: no other product file names `fs.file.impl`.
    */
  test("local-fs lint: the CDI path writers carry NioLocalFileSystem.writeOptions") {
    val sources = productSources.toMap
    // a member's text: from its `def` to the next member or the end of its object
    def member(src: String, method: String): String = {
      val rest = src.substring(src.indexOf(s"\n  def $method(") + 1)
      rest.substring(0, Seq("\n  def ", "\n  /**", "\n  private", "\n}")
        .map(rest.indexOf(_)).filter(_ > 0).minOption.getOrElse(rest.length))
    }
    val writers = Seq(
      "pipeline/Ingest.scala" -> "writeDaily",
      "pipeline/Snapshot.scala" -> "writeSnapshot",
      "pipeline/Orchestration.scala" -> "writeAuditDaily")
    val bare = writers.filterNot { case (file, method) =>
      sources(file).contains(s"\n  def $method(") &&
        member(sources(file), method).contains(".options(NioLocalFileSystem.writeOptions)")
    }
    assert(bare.isEmpty, bare.mkString("path writers without NioLocalFileSystem.writeOptions: ", ", ", ""))
    val strays = productSources.collect {
      case (rel, src) if src.contains("fs.file.impl") && rel != "fs/NioLocalFileSystem.scala" => rel
    }
    assert(strays.isEmpty, strays.mkString("fs.file.impl outside fs/NioLocalFileSystem.scala: ", ", ", ""))
  }
}
