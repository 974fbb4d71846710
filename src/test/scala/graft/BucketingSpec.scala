package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.pipeline.Bucketing

/** Proof that the bucketed layout removes the join shuffle: two tables
  * bucketed on the same key join with ZERO ShuffleExchange operators,
  * and the result matches the plain (shuffling) join.
  */
class BucketingSpec extends SparkSpec {

  /** drop the table AND its warehouse dir (a fresh JVM's catalog knows
    * nothing about a previous run's directory — saveAsTable would fail
    * with LOCATION_ALREADY_EXISTS)
    */
  private def dropHard(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val dir = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$table")
    if (dir.exists()) graft.Stage.deleteRecursively(dir)
  }

  test("join of co-bucketed tables plans without any shuffle exchange") {
    dropHard("bspec_orders")
    dropHard("bspec_lineitem")
    Bucketing.writeBucketed(
      Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice"),
      "bspec_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      "bspec_lineitem", "o_orderkey", 8)

    val joined = Bucketing.read(spark, "bspec_orders")
      .join(Bucketing.read(spark, "bspec_lineitem"), Seq("o_orderkey"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"expected exchange-free co-located join, found ${shuffles.length} shuffles")

    // and the co-located join is still correct
    val plain = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .join(Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        Seq("o_orderkey"))
    assert(joined.count() === plain.count())

    spark.sql("DROP TABLE IF EXISTS bspec_orders")
    spark.sql("DROP TABLE IF EXISTS bspec_lineitem")
  }

  test("aggregation on the bucket key also plans without a shuffle") {
    dropHard("bspec_li_agg")
    Bucketing.writeBucketed(
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity"),
      "bspec_li_agg", "l_orderkey", 8)
    val agg = Bucketing.read(spark, "bspec_li_agg")
      .groupBy("l_orderkey").agg(sum("l_quantity"))
    val shuffles = agg.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, s"expected shuffle-free agg, found ${shuffles.length}")
    assert(agg.count() === Tables.lineitem(spark, sfDir)
      .select("l_orderkey").distinct().count())
    spark.sql("DROP TABLE IF EXISTS bspec_li_agg")
  }

  test("z-order layout skips most files and skipped footprints are disjoint from the predicate") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Layout
    val (dataPath, manifest) = Layout.ensureZorderLayout(spark, sfDir)
    val files = manifest.select("file", "mn_u", "mx_u", "mn_t", "mx_t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(files.length >= 16, s"expected a multi-file layout, got ${files.length}")
    val (uLo, uHi, tsLo, tsHi) = Layout.predicateBounds(spark, sfDir)
    val kept = Layout.pruneFiles(manifest, uLo, uHi, tsLo, tsHi).toSet
    // the layout's point: a 2-dim predicate admits a small file subset
    assert(kept.nonEmpty)
    assert(kept.size * 4 <= files.length,
      s"pruning kept ${kept.size}/${files.length} files — no skipping happened")
    // skipped files are PROVABLY irrelevant: footprint disjoint on some dim
    files.filterNot(f => kept(f._1)).foreach { case (f, mnU, mxU, mnT, mxT) =>
      assert(mxU < uLo || mnU > uHi || mxT < tsLo || mnT > tsHi,
        s"file $f was skipped but its footprint intersects the predicate")
    }
    // and the pruned answer equals the full-layout scan with the same filter
    val full = spark.read.parquet(dataPath)
      .filter(col("user_id").between(uLo, uHi)
        && col("us").between(tsLo, tsHi))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val prunedDf = Layout.qZorderPrune(spark, sfDir)
    val pruned = prunedDf
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pruned === full)
    // the skipping happens INSIDE the plan: the scan's FileIndex,
    // handed the scan's own pushed dataFilters, admits exactly the
    // manifest-pruned file set — no hand-threaded path list anywhere
    // AQE wraps stages in QueryStageExec whose plan is not a child —
    // flatten through both wrappers to reach the scan
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val scan = flatten(prunedDf.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in the pruned plan"))
    assert(scan.relation.location.isInstanceOf[graft.plans.ZorderFileIndex],
      "scan is not backed by the native z-order FileIndex")
    val scanFiles = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(_.fileStatus.getPath.getName)).toSet
    val keptNames = kept.map(f => f.split('/').last)
    assert(scanFiles === keptNames,
      "scan file set diverges from the manifest-pruned set")
    assert(scanFiles.size * 4 <= files.length,
      s"scan read ${scanFiles.size}/${files.length} files — no in-plan skipping")
  }

  test("FileIndex pruning composes: a filter on ONE dimension alone prunes the scan") {
    import graft.pipeline.Layout
    import org.apache.spark.sql.functions._
    // the point of the native index over the hand-plumbed list: ANY
    // Catalyst-pushed predicate prunes — here a time-only filter the
    // demo query never issues
    val (_, tsLo, tsHi) = {
      val b = Layout.predicateBounds(spark, sfDir); (b._1, b._3, b._4) }
    val df = Layout.zorderTable(spark, sfDir)
      .filter(col("us").between(tsLo, tsHi))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = Tables.events(spark, sfDir)
      .filter(unix_micros(col("ts")).between(tsLo, tsHi))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want)
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val scan = flatten(df.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec"))
    val admitted = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.size).sum
    val total = scan.relation.location.inputFiles.length
    assert(admitted < total,
      s"time-only filter admitted all $total files — one-dim pruning broken")
  }

  test("incremental z-order maintenance: an appended day rebuilds only the touched buckets") {
    import graft.pipeline.Layout
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_zinc").toFile
    val evDir = new java.io.File(root, "events.parquet"); evDir.mkdirs()
    val ev = Tables.events(spark, sfDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(root, "stage")
      df.coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new java.io.File(evDir, name).toPath)
      graft.Stage.deleteRecursively(stage)
    }
    try {
      // day 1: two files covering the whole table
      land(ev.filter(col("event_id") % 2 === 0), "day1a.parquet")
      land(ev.filter(col("event_id") % 2 === 1), "day1b.parquet")
      val (data1, _) = Layout.ensureZorderLayout(spark, root.getPath)
      val day1Files = new java.io.File(data1).listFiles()
        .filter(_.getName.startsWith("bucket=")).flatMap(b =>
          b.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => s"${b.getName}/${f.getName}" -> f)).toMap
      // day 2: a NARROW z-region (one user band × one time band) so
      // most buckets stay untouched; new ids keep rows distinct
      val (uLo, uHi, tsLo, tsHi) = Layout.predicateBounds(spark, sfDir)
      land(ev.filter(col("user_id").between(uLo, uHi)
          && unix_micros(col("ts")).between(tsLo, tsHi))
        .withColumn("event_id", col("event_id") + 10000000L), "day2.parquet")
      val (data2, manifest2) = Layout.ensureZorderLayout(spark, root.getPath)
      assert(data2 !== data1, "source change must produce a new layout dir")
      val layout2 = new java.io.File(data2).getParentFile
      assert(new java.io.File(layout2, "_INCREMENTAL").exists(),
        "append-only source change did not take the incremental path")
      val day2Files = new java.io.File(data2).listFiles()
        .filter(_.getName.startsWith("bucket=")).flatMap(b =>
          b.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => s"${b.getName}/${f.getName}" -> f)).toMap
      // untouched buckets: same relative path AND the same inode (hard
      // link) — byte-identical by construction, mtime preserved
      val shared = day2Files.keySet intersect day1Files.keySet
      val linked = shared.filter(k => java.nio.file.Files.isSameFile(
        day1Files(k).toPath, day2Files(k).toPath))
      assert(linked.nonEmpty, "no bucket file was carried over untouched")
      assert(day2Files.size > linked.size, "no bucket was actually rebuilt")
      assert(linked.size * 2 >= day1Files.size,
        s"only ${linked.size}/${day1Files.size} buckets carried — narrow append touched too much")
      linked.foreach { k =>
        assert(day1Files(k).lastModified === day2Files(k).lastModified) }
      // the incremental layout holds EXACTLY the day1+day2 rows
      val cols = Seq("event_id", "user_id", "us", "event_type", "value")
      val got = spark.read.parquet(data2).select(cols.map(col): _*)
      val expected = Tables.events(spark, root.getPath)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"), col("value"))
      assert(got.exceptAll(expected).count() === 0)
      assert(expected.exceptAll(got).count() === 0)
      // manifest rows agree with the files they describe
      val m2 = manifest2.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val recomputed = spark.read.parquet(data2)
        .withColumn("file",
          regexp_extract(input_file_name(), "(bucket=[^/]+/[^/]+)$", 1))
        .groupBy("file")
        .agg(count(lit(1)).as("n"),
          min("user_id").as("mn_u"), max("user_id").as("mx_u"),
          min("us").as("mn_t"), max("us").as("mx_t"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(m2 === recomputed, "carried manifest rows diverge from the linked files")
      // and the query path over the incremental layout matches its twin
      val pruned = Layout.qZorderPrune(spark, root.getPath)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val twinB = Layout.predicateBounds(spark, root.getPath)
      val twin = Tables.events(spark, root.getPath)
        .filter(col("user_id").between(twinB._1, twinB._2)
          && unix_micros(col("ts")).between(twinB._3, twinB._4))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(pruned === twin)
      // CHAIN: a third day must build incrementally FROM the
      // incremental layout (day 1+2), not from scratch
      land(ev.filter(col("user_id").between(uLo, uHi)
          && unix_micros(col("ts")).between(tsLo, tsHi))
        .withColumn("event_id", col("event_id") + 20000000L), "day3.parquet")
      val (data3, _) = Layout.ensureZorderLayout(spark, root.getPath)
      assert(data3 !== data2)
      assert(new java.io.File(new java.io.File(data3).getParentFile,
        "_INCREMENTAL").exists(), "second append did not chain incrementally")
      val got3 = spark.read.parquet(data3).select(cols.map(col): _*)
      val expected3 = Tables.events(spark, root.getPath)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_type"), col("value"))
      assert(got3.exceptAll(expected3).count() === 0)
      assert(expected3.exceptAll(got3).count() === 0)
    } finally graft.Stage.deleteRecursively(root)
  }

  test("z-order files are locality-tight: per-file user footprints beat the global range") {
    import graft.pipeline.Layout
    val (_, manifest) = Layout.ensureZorderLayout(spark, sfDir)
    val rows = manifest.collect().map(r =>
      (r.getAs[Long]("mx_u") - r.getAs[Long]("mn_u"), r.getAs[Long]("n")))
    val globalRange = Tables.events(spark, sfDir)
      .agg(org.apache.spark.sql.functions.max("user_id"),
        org.apache.spark.sql.functions.min("user_id"))
      .head() match { case r => r.getLong(0) - r.getLong(1) }
    // row-weighted mean footprint: z-clustering must compress it well
    // below the global span (directory partitioning on ts alone would
    // leave every file's user range ≈ global)
    val weighted = rows.map { case (w, n) => w * n }.sum.toDouble / rows.map(_._2).sum
    assert(weighted * 2 < globalRange,
      s"mean per-file user span $weighted vs global $globalRange — no locality")
  }

  test("OPTIMIZE: compaction bin-packs fragmented buckets — exact row union, fewer files, pruning unchanged, carried inodes") {
    import graft.pipeline.Layout
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_zopt").toFile
    val evDir = new java.io.File(root, "events.parquet"); evDir.mkdirs()
    val ev = Tables.events(spark, sfDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(root, "stage")
      df.coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new java.io.File(evDir, name).toPath)
      graft.Stage.deleteRecursively(stage)
    }
    try {
      land(ev, "day1.parquet")
      Layout.ensureZorderLayout(spark, root.getPath)
      // ten narrow appends, each chained incrementally → the touched
      // buckets accumulate one small file per append
      val (uLo, uHi, tsLo, tsHi) = Layout.predicateBounds(spark, sfDir)
      (1 to 10).foreach { day =>
        land(ev.filter(col("user_id").between(uLo, uHi)
            && unix_micros(col("ts")).between(tsLo, tsHi))
          .withColumn("event_id", col("event_id") + day * 10000000L),
          s"day${day + 1}.parquet")
        Layout.ensureZorderLayout(spark, root.getPath)
      }
      val (dataB, _) = Layout.ensureZorderLayout(spark, root.getPath)
      def files(dataPath: String): Map[String, java.io.File] =
        new java.io.File(dataPath).listFiles()
          .filter(_.getName.startsWith("bucket=")).flatMap(b =>
            b.listFiles().filter(_.getName.endsWith(".parquet"))
              .map(f => s"${b.getName}/${f.getName}" -> f)).toMap
      val before = files(dataB)
      def ino(f: java.io.File): AnyRef =
        java.nio.file.Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey
      // single-file buckets must come through compaction untouched
      val singles = before.keys.groupBy(_.split("/")(0)).filter(_._2.size == 1)
        .flatMap(_._2).toSet
      val singleInos = singles.map(k => k -> ino(before(k))).toMap
      val rowsBefore = spark.read.parquet(dataB)
        .select("event_id", "user_id", "us", "event_type", "value")
      val prunedBefore = Layout.qZorderPrune(spark, root.getPath)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
      val rowsBeforeC = rowsBefore.collect()
      val (dataA, manifestA) = Layout.compactLayout(spark, root.getPath)
      assert(dataA === dataB, "compaction must swap in place — the path is the layout's identity")
      val after = files(dataA)
      assert(before.size >= after.size * 2,
        s"compaction barely helped: ${before.size} files -> ${after.size}")
      // exact row union
      val rowsAfter = spark.read.parquet(dataA)
        .select("event_id", "user_id", "us", "event_type", "value").collect()
      assert(rowsAfter.map(_.toString).sorted.toSeq ===
        rowsBeforeC.map(_.toString).sorted.toSeq)
      // untouched single-file buckets keep their inodes (hard-linked)
      singles.foreach { k =>
        assert(after.contains(k), s"single-file bucket $k vanished")
        assert(ino(after(k)) === singleInos(k), s"single-file bucket $k was rewritten")
      }
      // manifest rows agree with a per-file recompute over the new files
      val mA = manifestA.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val recomputed = spark.read.parquet(dataA)
        .withColumn("file",
          regexp_extract(input_file_name(), "(bucket=[^/]+/[^/]+)$", 1))
        .groupBy("file")
        .agg(count(lit(1)).as("n"),
          min("user_id").as("mn_u"), max("user_id").as("mx_u"),
          min("us").as("mn_t"), max("us").as("mx_t"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(mA === recomputed, "compacted manifest diverges from the files it describes")
      // pruning answers unchanged through the swap
      val prunedAfter = Layout.qZorderPrune(spark, root.getPath)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
      assert(prunedAfter.toSeq === prunedBefore.toSeq)
    } finally graft.Stage.deleteRecursively(root)
  }

  test("q_dpp carries a runtime partition-pruning filter and matches the direct result") {
    import org.apache.spark.sql.functions._
    val df = graft.pipeline.Bucketing.qDpp(spark, sfDir)
    // the query itself require()s the dynamicpruning filter; check results
    val got = df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = Tables.orders(spark, sfDir)
      .withColumn("y", year(col("o_orderdate")))
      .filter(col("y") % 2 === 0)
      .groupBy("y").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }
}
