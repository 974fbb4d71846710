package graft

import graft.queries.Analytics

class AnalyticsSpec extends SparkSpec {

  test("every Block A query runs and returns rows at sf0.001") {
    Analytics.all.foreach { q =>
      val n = q.fn(spark, sfDir).count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("q_histogram: bucket counts partition the orders table") {
    import org.apache.spark.sql.functions._
    val hist = Analytics.qHistogram(spark, sfDir)
    val total = hist.agg(sum("cnt")).collect()(0).getLong(0)
    assert(total === Tables.orders(spark, sfDir).count())
    assert(hist.filter(col("bucket") < 0).count() === 0)
  }

  test("q_topk_agg: heap aggregate equals the window form, incl. via SQL") {
    import org.apache.spark.sql.functions._
    val viaAgg = Analytics.qTopkAgg(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    val viaWindow = Analytics.qTopkPerGroup(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(3), r.getLong(1), r.getDouble(2))).sorted
    assert(viaAgg.toSeq === viaWindow.toSeq)
    // and the aggregate is reachable from SQL through the session's extension
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_topk")
    val viaSql = spark.sql(
      """SELECT o_custkey, size(topk_rows(struct(o_totalprice, o_orderkey), 2)) AS n
        |FROM orders_topk GROUP BY o_custkey""".stripMargin).collect()
    assert(viaSql.forall(r => r.getInt(1) >= 1 && r.getInt(1) <= 2))
  }

  test("q_distinct_approx: exact counts match and HLL ratio buckets are 1.0") {
    import org.apache.spark.sql.functions._
    val rows = Analytics.qDistinctApprox(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("p"), countDistinct(col("l_suppkey")).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (p, sCnt)) =>
      val (ep, es, rp, rs) = rows(k)
      assert(ep === p && es === sCnt, s"$k exact distinct drifted")
      // the invariant the oracle asserts: sketch within 5% → bucket 1.0
      assert(rp === 1.0 && rs === 1.0, s"$k HLL error bucket: $rp / $rs")
    }
  }

  test("q_bitmap_distinct: bitmap counts are exact; container boundaries hold; SQL-reachable") {
    import org.apache.spark.sql.functions._
    val got = Analytics.qBitmapDistinct(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), countDistinct("l_suppkey").as("s"),
        countDistinct("l_partkey").as("p"), countDistinct("l_orderkey").as("o"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === exact)
    // plan: the typed aggregate partial-aggregates below the exchange
    val plan = Analytics.qBitmapDistinct(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(!plan.contains("Expand"), "bitmap agg must not pay the multi-distinct Expand")
    // container-boundary fixture: keys straddling the 2^16 slice edges,
    // duplicates, and word edges — merged across partitions
    import spark.implicits._
    val keys = Seq(0L, 1L, 63L, 64L, 65535L, 65536L, 65537L, 131071L, 131072L,
      65536L, 0L, 1L << 40)
    val n = keys.toDF("k").repartition(4)
      .agg(graft.functions.bitmap_distinct(col("k"))).collect()(0).getLong(0)
    assert(n === keys.distinct.length.toLong)
    // reachable from SQL through the session's extension
    keys.toDF("k").createOrReplaceTempView("bm_keys")
    assert(spark.sql("SELECT bitmap_distinct(k) FROM bm_keys")
      .collect()(0).getLong(0) === keys.distinct.length.toLong)
  }

  test("q_bitmap_intersect: bitmap algebra equals set intersection; wire form canonical") {
    import org.apache.spark.sql.functions._
    val got = Analytics.qBitmapIntersect(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sets = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_suppkey").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).toSet }
    val flags = sets.keys.toSeq.sorted
    val brute = (for {
      a <- flags; b <- flags if a < b
    } yield (a, b) -> (sets(a) & sets(b)).size.toLong).toMap
    assert(got === brute)
    assert(brute.values.exists(_ > 0L), "segments must actually overlap")
    // canonical wire form: the same key set built under different
    // partitionings serializes byte-identically
    import spark.implicits._
    val keys = Seq(5L, 70000L, 3L, 131073L, 5L, 70000L)
    def wire(parts: Int): Array[Byte] = keys.toDF("k").repartition(parts)
      .agg(graft.functions.bitmap_build(col("k"))).collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(wire(1), wire(4)))
    // and intersection off the wire matches directly
    val bm1 = wire(1)
    assert(graft.functions.BitmapOps.andCardinality(bm1, bm1) === 4L)
  }

  test("q_cms_freq: estimates never undercount, exact here, codegen probe works in SQL") {
    import org.apache.spark.sql.functions._
    val got = Analytics.qCmsFreq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    got.foreach { case (u, exact, ratio) =>
      assert(exact > 0L, s"user $u")
      assert(ratio === 1.0, s"user $u CMS drifted outside the gate: $ratio")
    }
    // the CMS one-sided contract on EVERY key, not just the queried 5:
    // estimate >= exact always
    val ev = Tables.events(spark, sfDir).select(col("user_id"))
    val sketch = ev.agg(
      expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("cms"))
    val all = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(sketch))
      .select(col("user_id"), col("exact"),
        graft.functions.cms_estimate(col("cms"), col("user_id")).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    all.foreach { case (u, exact, est) =>
      assert(est >= exact, s"CMS undercounted user $u: $est < $exact")
    }
  }

  test("q_runtime_filter: injection self-check holds and confs are restored") {
    val before = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.getOption(k))
    val viaFilter = Analytics.qRuntimeFilter(spark, sfDir).collect()
    // session confs back exactly as they were (the conf window closed)
    before.foreach { case (k, v) => assert(spark.conf.getOption(k) === v, k) }
    // and the answer equals the plain declarative join
    val plain = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(
        "o_orderpriority = '1-URGENT' AND o_totalprice > 200000"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      .count()
    assert(viaFilter.map(_.getLong(1)).sum === plain)
  }

  test("q_cbo_reorder: reordered result equals the declarative join, confs restored") {
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val viaCbo = graft.queries.Cbo.qCboReorder(spark, sfDir).collect()
    keys.zip(before.map(_._2)).foreach { case (k, v) =>
      assert(spark.conf.getOption(k) === v, k) }
    import org.apache.spark.sql.functions._
    val plain = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir).filter("c_mktsegment = 'BUILDING'"),
        col("o_custkey") === col("c_custkey")).count()
    assert(viaCbo.head.getLong(0) === plain)
  }

  test("q1_agg groups are the 6 returnflag/linestatus combos with exact counts") {
    val rows = Analytics.q1Agg(spark, sfDir).collect()
    assert(rows.length === 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, sfDir)
      .filter("l_shipdate <= timestamp '1998-09-02'").count()
    assert(total === expected)
  }

  test("q3_join_topk returns exactly 10 rows sorted by revenue desc") {
    val r = Analytics.q3JoinTopk(spark, sfDir).collect()
    assert(r.length === 10)
    val revs = r.map(_.getAs[Double]("revenue"))
    assert(revs.sameElements(revs.sortBy(-_)))
  }

  test("semi + anti join partition the customer set w.r.t. matching orders") {
    import org.apache.spark.sql.functions.col
    val big = Tables.orders(spark, sfDir).filter("o_totalprice > 300000")
      .select("o_custkey")
    val cust = Tables.customer(spark, sfDir)
    val semi = cust.join(big, col("c_custkey") === col("o_custkey"), "left_semi").count()
    val anti = cust.join(big, col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(semi + anti === cust.count())
    assert(semi === Analytics.qSemijoin(spark, sfDir).count())
  }

  test("q_outer_join keeps every customer") {
    assert(Analytics.qOuterJoin(spark, sfDir).count()
      === Tables.customer(spark, sfDir).count())
  }

  test("q_window running_spend is monotone per customer") {
    val rows = Analytics.qWindow(spark, sfDir)
      .select("o_custkey", "rn", "running_spend").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val spend = rs.sortBy(_.getInt(1)).map(_.getDouble(2))
      assert(spend.sameElements(spend.sorted))
    }
  }

  test("q_rollup contains grand total row equal to customer count") {
    val rows = Analytics.qRollup(spark, sfDir).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    assert(grand.head.getAs[Long]("cnt") === Tables.customer(spark, sfDir).count())
  }

  test("SURVEY.md §2 inventory and SparkEntry.queries never diverge") {
    val survey = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    val lines = try survey.getLines().toVector finally survey.close()
    val sec2 = lines
      .dropWhile(!_.startsWith("## §2"))
      .takeWhile(l => !l.startsWith("## §3"))
    val tableKeys = sec2
      .filter(l => l.startsWith("| ") && !l.startsWith("| ---") && !l.startsWith("| key"))
      .map(_.split("\\|")(1).trim)
      .filter(_.matches("[a-z0-9_]+"))
      .toSet
    val registered = SparkEntry.queries.keySet
    val missingFromSurvey = registered -- tableKeys
    val missingFromRegistry = tableKeys -- registered
    assert(missingFromSurvey.isEmpty, s"registered but not in SURVEY §2: $missingFromSurvey")
    assert(missingFromRegistry.isEmpty, s"in SURVEY §2 but not registered: $missingFromRegistry")
  }

  test("q_correlated_subq decorrelates to a join and matches manual rewrite") {
    import org.apache.spark.sql.functions._
    val result = Analytics.qCorrelatedSubq(spark, sfDir)
    // Catalyst must rewrite the per-row subquery into agg + join: the
    // physical plan has a join and NO surviving subquery node
    val physical = result.queryExecution.executedPlan.toString
    assert(physical.contains("Join"), physical.take(500))
    assert(!physical.contains("Subquery"), "subquery survived decorrelation")
    val o = Tables.orders(spark, sfDir)
    val mx = o.groupBy(col("o_custkey").as("k")).agg(max("o_totalprice").as("mx"))
    val manual = o.join(mx, col("o_custkey") === col("k"))
      .filter(col("o_totalprice") < col("mx"))
      .groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === manual)
  }

  test("q_topk_per_group yields at most 3 per segment, rank-ordered") {
    val rows = Analytics.qTopkPerGroup(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val prices = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("o_totalprice"))
      assert(prices.sameElements(prices.sortBy(-_)))
    }
  }

  test("q_gap_fill: every series is a dense day range") {
    val rows = Analytics.qGapFill(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val days = rs.map(_._2).sortBy(_.toEpochDay)
      val span = days.last.toEpochDay - days.head.toEpochDay + 1
      assert(days.distinct.length.toLong === span, "missing days in filled series")
    }
  }

  test("q_window_family: ranks bounded, distributions in [0,1], frame ends correct") {
    val rows = Analytics.qWindowFamily(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 4) // quartile
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0) // percent_rank
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0) // cume_dist
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(6)).distinct.length === 1) // one first per key
      assert(rs.map(_.getLong(7)).distinct.length === 1) // one last per key
    }
  }

  test("q_approx_percentile: measured rank errors bucket to 0.0, counts exact") {
    val counts = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = Analytics.qApproxPercentile(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) === counts(r.getString(0)))
      // GK sketch at accuracy 1000: rank error ≤ 1/1000 ≪ the 0.05
      // bucket boundary — the same invariant the oracle hash asserts
      assert(r.getDouble(2) === 0.0, s"p50 rank err ${r.getDouble(2)}")
      assert(r.getDouble(3) === 0.0, s"p90 rank err ${r.getDouble(3)}")
      assert(r.getDouble(4) === 0.0, s"p99 rank err ${r.getDouble(4)}")
    }
  }
}
