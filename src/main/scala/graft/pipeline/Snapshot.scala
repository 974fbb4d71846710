package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.fs.NioLocalFileSystem

/** Latest-record snapshot logic (reference: steps/ingesters.py:341-460).
  *
  * The reference keeps one latest record per (id_part, id) with
  * `row_number().over(Window.partitionBy(...).orderBy(...)) == 1` — a
  * full shuffle of every record followed by a per-partition sort on
  * (key, order). The production path here is
  * `groupBy(keys).agg(max_by(struct(cols), orderKey))`: same semantics
  * with map-side PARTIAL aggregation — the shuffle carries one
  * pre-combined row per key per input partition instead of every
  * record. (Spark plans it as SortAggregate because the max_by buffer
  * is a struct; the sort is by grouping key only, on the already-
  * collapsed partials — at 100 TB the win is the shuffle volume.) The
  * window variant is kept for oracle/spec cross-checking.
  *
  * Where the write differs from the reference: [[writeSnapshot]]
  * clusters with an AQE rebalance on id_part, not the reference's
  * `repartitionByRange(4096, id_part, id)`, so no job samples the merge
  * for range bounds. Which rows share a file changes; the rows, the
  * id_part directories and the format do not.
  */
object Snapshot {

  /** One latest row per key group, production shape (max_by partial agg).
    * Highest `order` wins; ties broken by the struct's later fields.
    *
    * r17 NOTE — max_by is KEPT, with a two-scale measurement behind it:
    * an ObjectHashAggregate alternative (a TypedImperativeAggregate
    * `latest_row`, since deleted; plans/r17/latest_row_ab.md) A/B-measured
    * SLOWER standalone (sf10 p_latest_by_key 0.99→2.27 s,
    * p_cdc_apply 1.64→2.48 s): ObjectHashAggregateExec falls back to
    * sort-based aggregation once a partition's hash map passes
    * spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    * (default 128 keys), so with thousands of keys per partition it
    * pays max_by's sort PLUS per-row object churn. The SortAggregate
    * this plans is a LOCAL sort of already-collapsed partials-per-task;
    * measured decade shape standalone: sf1 0.67 s → sf10 0.99 s
    * (≈1.5× per 10× data). The r16 sweep number that suggested a
    * steepening (3.4 s) was chunk-attribution noise — restandalone
    * before believing a sweep row.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], order: Column): DataFrame = {
    val payload = df.columns.filterNot(keys.contains).map(col).toSeq
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload: _*), order).as("latest"))
      .select(keys.map(col) :+ col("latest.*"): _*)
  }

  /** Reference-shaped twin: window row_number == 1 (shuffle + sort). */
  def latestByKeyWindow(df: DataFrame, keys: Seq[String], order: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Merge a previous full export with daily increments taken since it
    * (reference: ingesters.py:429-460 — union, then latest per key).
    * The dailies side must already be partition-pruned by the caller's
    * date predicate (ingesters.py:432-439).
    */
  def merge(export: DataFrame, dailies: DataFrame, keys: Seq[String], order: Column): DataFrame =
    latestByKey(export.unionByName(dailies), keys, order)

  /** The schema of a written snapshot (an export), partition column
    * included; readers pass it for the reason [[Ingest.dailySchema]]
    * gives.
    */
  val exportSchema: StructType =
    StructType.fromDDL("id STRING, db_type STRING, val STRING, id_part STRING")

  /** The reference's snapshot write layout (ingesters.py:450-458),
    * written partitioned by id_part so downstream reads prune. An AQE
    * rebalance on id_part (a hash exchange that AQE coalesces and splits
    * to the advisory size) gives each id_part directory few files with
    * no sampling job; see the object doc for where this differs from the
    * reference. Default format is ORC+zlib, the reference's exact
    * snapshot/export storage (ingesters.py:341-460); read it back with
    * [[exportSchema]]. Local paths write through [[NioLocalFileSystem]].
    */
  def writeSnapshot(snapshot: DataFrame, path: String,
      format: String = "orc", compression: String = "zlib"): Unit =
    snapshot
      .hint("rebalance", col("id_part"))
      .write
      .options(NioLocalFileSystem.writeOptions)
      .partitionBy("id_part")
      .option("compression", compression)
      .mode("overwrite")
      .format(format)
      .save(path)
}
