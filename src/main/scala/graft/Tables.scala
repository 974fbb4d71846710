package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders for the driver-generated parquet test tables.
  *
  * All queries take the scale-factor directory as a parameter so the same
  * code runs at any SF (and, on a real cluster, against any s3://... root —
  * the reference reads the same way from its corporate bucket, see
  * /root/reference/steps/ingesters.py:84-86).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` physical type has varied across driver data
    * generations — TIMESTAMP(NANOS) through r6 (which Spark's vectorized
    * reader rejects; read as raw int64 nanos via the legacy flag and
    * truncate to micros with integer division — `div`, a double division
    * would lose precision at 1e18 ns), plain TIMESTAMP micros (NTZ)
    * since r7. Normalize both to session-zone TimestampType: the session
    * is pinned UTC, so the NTZ→TZ cast is wall-clock identity and both
    * generations yield the same instants DuckDB's `epoch_us(ts)` sees —
    * every events oracle is written in epoch-µs terms on the naive
    * value, so the two sides keep lining up without touching the SQL.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // a permanent set, not a Stage.withConf scope: the returned frame
    // is lazy, and its scan reads the flag when it is planned and run
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(s, d, "events"))
  }

  /** See [[events]]; shared with the streaming reader, which builds its
    * own source over the same file.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => // nanos-as-long (pre-r7 data generation)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP or TIMESTAMP_NTZ micros (r7+)
        df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
