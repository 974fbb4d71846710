package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's Hive-export reshape (steps/ingesters.py:283-339):
  * snapshot rows carry the record as a JSON string `val`; publishing a
  * typed table is `from_json(val, ddl)` → range repartition on
  * (id_part, id) → `select("val.*")` → saveAsTable. Here the reshape is
  * a pure DataFrame transform (the saveAsTable target is deployment
  * config); from_json with an explicit DDL keeps the parse inside
  * codegen and lets Catalyst prune unreferenced fields.
  */
object HiveExport {

  /** `val`-holding DataFrame + DDL schema → typed columns. The JSON
    * parse happens AFTER the range exchange: the RangePartitioner's
    * sampling pass and the shuffle itself then move compact (id, val)
    * strings, and the parse runs exactly once per row on the
    * post-exchange side instead of being range-sampled and re-inlined
    * per projected field.
    */
  def exportShape(snapshot: DataFrame, ddl: String): DataFrame =
    snapshot
      .select(col("val"), col("id_part"), col("id"))
      .repartitionByRange(col("id_part"), col("id"))
      .select(from_json(col("val"), org.apache.spark.sql.types.StructType.fromDDL(ddl))
        .as("val"))
      .select(col("val.*"))
}
