package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Two-phase distributed global rank (SURVEY §5) — the scale path for
  * every query that needs an EXACT total-order position (row_number /
  * rank / ntile) over an entity-scale relation, replacing the
  * single-task `Window.orderBy(...)` sort that caps those queries at
  * one executor's memory and one task's wall clock at 100 TB.
  *
  * Shape (the q_concurrency segmented-scan judgment applied to rank):
  *
  *   1. `approxQuantile` on the primary key → ≤buckets-1 range
  *      boundaries (one sketch pass; any boundary set is CORRECT —
  *      balance only affects performance, so the sketch's error bound
  *      never touches the answer).
  *   2. A MONOTONE bucket id per row, computed from the boundaries as
  *      a literal-array comparison (no shuffle). Monotone-in-key means
  *      equal keys always share a bucket, so min-rank (`rank()`) and
  *      tie counts stay local to one bucket.
  *   3. Per-(group, bucket) exact counts → driver prefix offsets — a
  *      BOUNDED collect (≤ |groups|·buckets rows, the PlanLintSpec
  *      budget discipline) — broadcast-joined back.
  *   4. `row_number()` over a window PARTITIONED by (group, bucket)
  *      (a distributed hash-partitioned sort of N/buckets rows per
  *      task) + the exact offset = the global position. Rank
  *      arithmetic is integer-exact, so results are bit-identical to
  *      the single-sort formulation and every existing oracle holds
  *      unchanged.
  *
  * At 100 TB: buckets scales with the cluster (default
  * spark.sql.shuffle.partitions), each task sorts ~N/buckets rows,
  * and the only driver traffic is the boundary array and the count
  * grid. No unpartitioned WindowExec exists in the plan
  * (PlanShapeSpec pins this for q_gini / q_histogram_eqd / q_mwu).
  *
  * The input is persisted (MEMORY_AND_DISK) for the three passes
  * (sketch, counts, rank) — callers pass the already-compressed
  * per-entity aggregate, never the raw fact table.
  */
object RangeRank {

  /** Append `out` = exact global row_number over
    * (key asc|desc, tiebreak... asc) within each `group`, and
    * `nOut` = the group's total row count (for ntile arithmetic).
    *
    * `key` must be a non-null numeric column whose values are exact
    * in DOUBLE (BIGINT cents ≪ 2^53 everywhere this is used).
    *
    * `tieSplit` (round 16 — the heavy-tie residual): when true, the
    * call is ALLOWED to split ties — if (and only if) the quantile
    * sketch detects a heavy tie (duplicate boundaries ⇔ one key value
    * carrying ≥ ~1/buckets of the mass), the bucket boundaries become
    * COMPOSITE (key, tiebreak...) tuples from a deterministic sample,
    * and the bucket id counts boundary tuples lexicographically below
    * the row's own tuple — so a degenerate key distribution (one value
    * carrying ≥50% of all rows) still splits across buckets along the
    * tiebreak instead of re-creating the single fat-bucket sort. On
    * ordinary key distributions the detector keeps the cheap monotone
    * path (no extra count/sample jobs). ONLY for row_number-only consumers
    * (q_gini, q_histogram_eqd): equal keys no longer share a bucket,
    * which is exactly what q_mwu's bucket-local min-rank/ties forbids
    * (it stays on the monotone-in-key path). Requires non-null
    * tiebreak columns; rank output is bit-identical either way
    * (bucketing only repartitions the work). RANK_PROBE.json records
    * the heavy-tie sort distributing across buckets.
    */
  def withRowNumber(
      input: DataFrame,
      key: String,
      asc: Boolean,
      tiebreak: Seq[String],
      out: String,
      nOut: String,
      group: Seq[String] = Nil,
      buckets: Int = 0,
      tieSplit: Boolean = false): DataFrame = {
    val spark = input.sparkSession
    val nBuckets =
      if (buckets > 0) buckets
      else spark.sessionState.conf.numShufflePartitions.max(1)
    val df = graft.Stage.cached(input)
    // key in bucket space: negated for desc so every comparison below
    // is ascending (struct comparison can't mix directions per field)
    val keyD =
      if (asc) col(key).cast("double")
      else col(key).cast("double") * lit(-1.0)
    // Phase 1: boundary sketch — run for BOTH paths. For the monotone
    // path it is the bucketing; for tieSplit callers it is the
    // heavy-tie DETECTOR (r16): a duplicate quantile boundary means one
    // key value carries ≥ ~1/nBuckets of the mass — only then is the
    // composite (key, tiebreak) sampling pass (an extra count + sample
    // collect + per-row struct-array comparison) worth paying. The
    // r16-before bench measured always-on tieSplit costing q_gini /
    // q_histogram_eqd 1.5-3× on their perfectly ordinary key
    // distributions; ranks are bit-identical on every path, so the
    // detector only ever re-routes work, never changes an answer.
    val probes = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val rawBounds =
      if (probes.isEmpty) Array.empty[Double]
      else df.stat.approxQuantile(key, probes, 0.001)
    val heavyTie = tieSplit && rawBounds.length != rawBounds.distinct.length
    val bucketCol = if (!heavyTie) {
      // Phase 2: monotone bucket id. Duplicate quantiles collapse
      // (skew → fewer, fatter buckets — still correct, still
      // partitioned). Ascending: # boundaries < key; descending:
      // # boundaries > key — expressed uniformly as
      // # (signed boundaries) < (signed key) over the signed array.
      val bounds = rawBounds.distinct.sorted
      if (bounds.isEmpty) lit(0)
      else {
        val signed = if (asc) bounds else bounds.map(-_)
        val arr = array(signed.sorted.map(lit(_)).toIndexedSeq: _*)
        size(filter(arr, b => b < keyD))
      }
    } else {
      // Phase 1': composite boundary sample. A bounded deterministic
      // sample of (key, tiebreak...) tuples (~64 per target bucket),
      // sorted lexicographically, yields ≤nBuckets-1 boundary TUPLES;
      // any boundary set is CORRECT (balance only affects
      // performance), so sampling error never touches the answer.
      val n = df.count()
      val sampleCols = keyD.as("_rrk_k") +: tiebreak.map(col)
      val frac = math.min(1.0,
        (nBuckets * 64L).toDouble / math.max(1L, n))
      val sampled = df.select(sampleCols: _*)
        .sample(withReplacement = false, frac, seed = 7L).collect()
      val ord = new Ordering[org.apache.spark.sql.Row] {
        override def compare(a: org.apache.spark.sql.Row,
            b: org.apache.spark.sql.Row): Int = {
          var j = 0
          var c = 0
          while (c == 0 && j < a.length) {
            c = a.get(j).asInstanceOf[Comparable[Any]].compareTo(b.get(j))
            j += 1
          }
          c
        }
      }
      val sorted = sampled.sorted(ord)
      val step = math.max(1, sorted.length / nBuckets)
      val bounds = sorted.indices
        .collect { case i if i > 0 && i % step == 0 => sorted(i) }
        .distinct
      // Phase 2': bucket id = # boundary tuples strictly below the
      // row's (key, tiebreak...) tuple — monotone in the TOTAL order,
      // so offsets + per-bucket row_number still compose exactly.
      // Struct fields are NAMED identically on both comparison sides
      // (struct type equality includes field names).
      val fieldNames = "_rrk_k" +: tiebreak
      if (bounds.isEmpty) lit(0)
      else {
        val rowTuple = struct(sampleCols.zip(fieldNames)
          .map { case (c0, n0) => c0.as(n0) }: _*)
        val arr = array(bounds.map(r =>
          struct(r.toSeq.zip(fieldNames)
            .map { case (v, n0) => lit(v).as(n0) }: _*)).toIndexedSeq: _*)
        size(filter(arr, b => b < rowTuple))
      }
    }
    val bkt = df.withColumn("_rrk_bkt", bucketCol)
    // Phase 3: exact per-(group, bucket) counts -> prefix offsets on
    // the driver (bounded: |groups|·buckets rows).
    val grid = bkt.groupBy((group :+ "_rrk_bkt").map(col): _*)
      .agg(count(lit(1L)).as("_rrk_cnt")).collect()
    val offRows = grid.groupBy(r => group.map(r.getAs[Any]))
      .iterator.flatMap { case (gv, rows) =>
        val inOrder = rows.sortBy(_.getAs[Int]("_rrk_bkt"))
        val total = inOrder.map(_.getAs[Long]("_rrk_cnt")).sum
        var off = 0L
        inOrder.map { r =>
          val o = off
          off += r.getAs[Long]("_rrk_cnt")
          org.apache.spark.sql.Row.fromSeq(
            gv :+ r.getAs[Int]("_rrk_bkt") :+ o :+ total)
        }
      }.toSeq
    val offSchema = StructType(
      group.map(g => input.schema(g)) ++ Seq(
        StructField("_rrk_bkt", IntegerType, nullable = false),
        StructField("_rrk_off", LongType, nullable = false),
        StructField(nOut, LongType, nullable = false)))
    val offs = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), offSchema)
    // Phase 4: local sort per (group, bucket) + offset arithmetic.
    val ordering =
      (if (asc) col(key).asc else col(key).desc) +: tiebreak.map(col(_).asc)
    val w = Window.partitionBy((group :+ "_rrk_bkt").map(col): _*)
      .orderBy(ordering: _*)
    bkt.join(broadcast(offs), group :+ "_rrk_bkt")
      .withColumn(out, row_number().over(w).cast("long") + col("_rrk_off"))
      .drop("_rrk_bkt", "_rrk_off")
  }

  /** SQL-standard NTILE(k) from an exact global row_number `i` and the
    * total count `n` (both column NAMES): floor distribution — the
    * first n%k buckets take ⌈n/k⌉ rows, the rest ⌊n/k⌋ — matching both
    * Spark's NTile and DuckDB's, in pure BIGINT arithmetic.
    */
  def ntileExpr(i: String, n: String, k: Int): Column =
    expr(
      s"""CAST(CASE WHEN ($i - 1) < ($n % $k) * ($n div $k + 1)
         |  THEN ($i - 1) div ($n div $k + 1) + 1
         |  ELSE ($n % $k) + (($i - 1) - ($n % $k) * ($n div $k + 1)) div ($n div $k) + 1
         |END AS INT)""".stripMargin)
}
