package graft

import org.apache.spark.sql.SparkSession

/** Session construction. The engine's capabilities live in their own
  * objects (`pipeline.Ingest`, `operators.Dedup`, `queries.Temporal`,
  * …), each a DataFrame-in/DataFrame-out transform or a column builder;
  * this object only builds the session they all run in.
  */
object Graft {

  /** The one session builder: this engine's shuffle parallelism, UTC,
    * and [[functions.GraftExtensions]] (graft's SQL functions, the
    * as-of join strategy and the nested from_json pruning rule).
    * `withExtensions` adds to a deployment's own `spark.sql.extensions`
    * rather than replacing it. Callers add only what is theirs (master,
    * app name, catalog) and call `getOrCreate()`.
    */
  def builder(shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new functions.GraftExtensions)
}
