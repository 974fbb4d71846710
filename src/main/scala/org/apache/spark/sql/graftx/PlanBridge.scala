package org.apache.spark.sql.graftx

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge between graft's custom logical plans and the public Dataset
  * API (Spark 4 hides `Dataset.ofRows`, the analyzed-plan accessor and
  * `internalCreateDataFrame` behind `private[sql]`; same shim pattern
  * as [[ColumnBridge]]).
  */
object PlanBridge {
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** InternalRow-level optimizer fence behind [[graft.Stage.barrier]].
    *
    * `internalCreateDataFrame(queryExecution.toRdd, schema)` builds a
    * `Scan ExistingRDD` leaf directly over the child plan's InternalRow
    * output: same recompute-per-consumer semantics and optimizer
    * opacity as `createDataFrame(df.rdd, df.schema)`, without that
    * form's interpreted UnsafeRow → Row → InternalRow round trip per
    * row per consuming stage.
    *
    * Row-reuse note: `toRdd` iterators may reuse row buffers, exactly as
    * every physical operator's input iterator may; RDDScanExec re-projects
    * each row through an UnsafeProjection before handing it downstream,
    * so buffering consumers see stable rows. Nothing here stores the rows.
    *
    * A Spark Connect Dataset has no RDD to fence over (its `.rdd`
    * throws too), so it fails here with a message that says so.
    */
  def barrier(df: DataFrame): DataFrame = df match {
    case c: classic.Dataset[Row] @unchecked =>
      c.sparkSession.internalCreateDataFrame(
        c.queryExecution.toRdd, c.schema, isStreaming = false)
    case other =>
      throw new UnsupportedOperationException(
        s"Stage.barrier needs a classic Dataset; ${other.getClass.getName} " +
          "(Spark Connect) has no RDD to fence over")
  }
}
