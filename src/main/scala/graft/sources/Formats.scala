package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QueryDef
import graft.queries.QueryDef.dec

/** Source/sink format coverage (SURVEY.md §2.B) — every built-in
  * columnar/text format the engine reads and writes, proven by a
  * write→read→aggregate roundtrip per format against the parquet
  * oracle. The reference's own formats are all here: it reads gzip
  * JSONL (covered end-to-end by graft.pipeline.Envelope/Orchestration)
  * and writes ORC + JSONL text (ingesters.py:283-339, 505-539); CSV
  * completes the interchange set. Parquet is exercised by every other
  * query in the suite.
  */
object Formats {

  /** Roundtrip payload: format-stable column types only (BIGINT,
    * DOUBLE, STRING). The event timestamp travels as epoch-µs BIGINT —
    * text formats have no nanosecond timestamp type, and the µs
    * integer contract is the same one every oracle uses.
    */
  private def payload(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"),
      col("event_type"), col("value"))

  val RoundtripFormats: Seq[String] = Seq("csv", "json", "orc")

  /** B11: write events to CSV + JSON Lines + ORC, read each back, and
    * aggregate per format — identical (cnt, ids, total) triples across
    * all three prove lossless value fidelity through every format. The
    * oracle computes the same triple once from parquet: a roundtrip
    * that dropped rows, mangled doubles, or lost string escaping would
    * hash-mismatch. Writes are partitioned (the bench path writes
    * real multi-file outputs, same as the reference's daily layout).
    */
  def pFormatsRoundtrip(s: SparkSession, d: String): DataFrame = {
    val src = payload(s, d)
    val base = s"/tmp/graft_formats_${graft.Stage.sourceFingerprint(d, "events")}"
    val perFormat = RoundtripFormats.map { fmt =>
      val path = s"$base/$fmt"
      // header for CSV so the read-back schema is by name; JSON/ORC are
      // self-describing (schema passed explicitly on read for the text
      // formats — production contract: never infer on a 100 TB read)
      src.write.mode(SaveMode.Overwrite)
        .format(fmt).option("header", "true").save(path)
      val back = s.read.format(fmt)
        .option("header", "true").schema(src.schema).load(path)
      back.agg(
        count(lit(1)).as("cnt"),
        sum(col("event_id")).as("id_sum"),
        // min/max, not sum: a µs-epoch sum overflows BIGINT at bench
        // row counts (ANSI mode rejects the wrap)
        min(col("us")).as("us_min"),
        max(col("us")).as("us_max"),
        sum(dec(col("value"))).cast("double").as("total"),
        countDistinct(col("event_type")).as("n_types"))
        .withColumn("fmt", lit(fmt))
        .select("fmt", "cnt", "id_sum", "us_min", "us_max", "total", "n_types")
    }
    perFormat.reduce(_ unionByName _)
  }

  val pFormatsRoundtripSql: String =
    """SELECT fmt, cnt, id_sum, us_min, us_max, total, n_types FROM (
      |  SELECT unnest(['csv', 'json', 'orc']) AS fmt
      |) CROSS JOIN (
      |  SELECT COUNT(*) AS cnt,
      |    CAST(SUM(event_id) AS BIGINT) AS id_sum,
      |    MIN(epoch_us(ts)) AS us_min,
      |    MAX(epoch_us(ts)) AS us_max,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |    COUNT(DISTINCT event_type) AS n_types
      |  FROM events
      |)""".stripMargin

  /** B12: schema evolution across partition generations — the 100 TB
    * reality that old partitions were written before a column existed.
    * Generation 1 (even order keys) lacks o_orderpriority; generation 2
    * carries it. A mergeSchema read unifies the layouts, old rows
    * surface the new column as NULL, and the aggregation accounts for
    * both. The fixture is built once per scale dir through
    * Stage.ensureArtifact; its marker is the LAST write's own
    * `_SUCCESS`, so a crash between the two writes never publishes.
    */
  def pSchemaEvolution(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(s"/tmp/graft_evo_${graft.Stage.sourceFingerprint(d, "orders")}")
    val phys = graft.Stage.ensureArtifact(s, base, "gen=2/_SUCCESS") { tmp =>
      val orders = Tables.orders(s, d)
      orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.parquet(s"${tmp.getPath}/gen=1")
      orders.filter(col("o_orderkey") % 2 =!= 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.parquet(s"${tmp.getPath}/gen=2")
    }
    s.read.option("mergeSchema", "true").parquet(phys.getPath)
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        QueryDef.moneySum(col("o_totalprice")).as("total"))
  }

  val pSchemaEvolutionSql: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
      |            ELSE o_orderpriority END AS priority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("p_formats_roundtrip", pFormatsRoundtrip, Some(pFormatsRoundtripSql)),
    QueryDef("p_schema_evolution", pSchemaEvolution, Some(pSchemaEvolutionSql)))
}
