package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.fs.NioLocalFileSystem
import graft.functions._

/** The CDI decrypt→normalize→derive pipeline as one declarative column
  * chain (reference: steps/ingesters.py:466-539 calcParts path,
  * ingesters.py:60-121 businessAudit path — there an RDD of python
  * objects; here a single whole-stage-codegen'd projection).
  *
  * Stage order matches the reference exactly:
  *   decrypt → (transform, businessAudit only) → validate → sanitise →
  *   canonical utf8 output + derived columns.
  */
object Ingest {

  /** Collections the reference refuses to sanitise generically
    * (data.py:167-177). raise_error at plan level — same behavior as the
    * reference's NotImplementedError, but evaluated distributed.
    */
  private def sanitiseGuard(db: Column, collection: Column, value: Column): Column = {
    val guarded = UcJson.requiresSpecificSanitising.foldLeft(lit(false)) {
      case (acc, (d, c)) => acc || (db === d && collection === c)
    }
    when(guarded, raise_error(concat(lit("Collection "), db, lit(":"), collection,
      lit(" requires specific sanitising which has not been implemented"))))
      .otherwise(value)
  }

  /** parsed envelope + data_key → + `decrypted` column (AES-CTR). */
  def decrypt(withKeys: DataFrame): DataFrame =
    withKeys.withColumn("decrypted",
      aes_ctr_decrypt(col("db_object"), col("data_key"), col("iv")))

  /** Full normalization over the decrypted record. Adds:
    *  - `val`: canonical sanitised utf8 record (UCMessage.utf8_decrypted_record)
    *  - `is_delete`, `db_type` (INSERT|DELETE)
    *  - `id` (canonical), `id_part` (2-char prefix)
    * businessAudit rows get the context-unwrap transform first
    * (data.py:98-121); everything else goes straight to validate.
    */
  def process(decrypted: DataFrame): DataFrame = {
    val isAudit = col("db") === "data" && col("collection") === "businessAudit"
    // decrypt+transform+validate materialized ONCE behind a hard barrier:
    // after CollapseProject, every downstream reference to
    // `validated.json` / `validated.is_delete` (val, db_type, group keys
    // above an exchange) would otherwise re-inline the whole
    // AES+Jackson chain — measured 5.2s → 2.1s for p_daily_increment at
    // sf0.1. The barrier payload is narrow (envelope keys + one record
    // string); sanitise/canonicalize stay lazy above it so queries that
    // only need keys still prune them.
    val validated = graft.Stage.barrier(
      decrypted
        .withColumn("transformed",
          when(isAudit,
            uc_transform_audit(col("decrypted"), coalesce(col("envelope_lm"), lit(""))))
            .otherwise(col("decrypted")))
        .withColumn("validated", uc_validate(col("transformed")))
        .select(col("db"), col("collection"), col("raw_id"),
          col("validated.json").as("vjson"),
          col("validated.is_delete").as("is_delete")))
    validated
      .withColumn("val",
        json_canonicalize(
          sanitiseGuard(col("db"), col("collection"), uc_sanitise(col("vjson")))))
      .withColumn("db_type", when(col("is_delete"), "DELETE").otherwise("INSERT"))
      .withColumn("id", uc_id(col("raw_id")))
      .withColumn("id_part", uc_id_part(col("id")))
  }

  /** Envelope lines → fully processed records (the whole read path).
    * Malformed lines are dropped here (quarantine them separately with
    * [[malformedLines]]); the reference instead fails the task on the
    * first bad line.
    */
  def pipeline(lines: DataFrame, keys: KeyService = KeyService.identity): DataFrame =
    pipelineFromParsed(Envelope.parse(lines), keys)

  /** The quarantine side: raw lines that failed envelope parsing. */
  def malformedLines(lines: DataFrame): DataFrame =
    malformedFromParsed(Envelope.parse(lines))

  /** [[pipeline]] split at the parse seam: a caller that needs BOTH the
    * processed records and the malformed quarantine from one input (the
    * streaming ingester, per microbatch) can parse once — persist the
    * `Envelope.parse` frame and feed it to both — instead of running
    * Jackson over every raw line once per branch. Row-identical to
    * pipeline/malformedLines by construction (same subtree).
    */
  def pipelineFromParsed(parsed: DataFrame, keys: KeyService = KeyService.identity): DataFrame =
    process(decrypt(keys.withDataKeys(
      parsed.filter(!col("malformed")).drop("malformed", "value"))))

  /** Quarantine side of [[pipelineFromParsed]]'s shared parse. */
  def malformedFromParsed(parsed: DataFrame): DataFrame =
    parsed.filter(col("malformed")).select("value")

  /** Pipeline with ingest metrics attached via `observe` — the
    * Spark-first replacement for the reference's driver accumulators
    * (dks.py hit/miss counters, record counts): metrics ride the
    * existing action, no second pass, and surface through
    * `Observation.get` / the listener bus.
    */
  def pipelineObserved(lines: DataFrame, obs: org.apache.spark.sql.Observation,
      keys: KeyService = KeyService.identity): DataFrame =
    pipeline(lines, keys).observe(obs,
      count(lit(1)).as("records"),
      sum(when(col("is_delete"), 1L).otherwise(0L)).as("deletes"),
      approx_count_distinct(col("id_part")).as("id_parts"))

  /** Daily-increment derived columns for a given export date
    * (reference: ingesters.py:505-530 to_row).
    */
  def dailyIncrement(processed: DataFrame, exportDate: String): DataFrame = {
    val Array(y, m, d) = exportDate.split("-")
    processed.select(
      col("id"), col("id_part"),
      lit(y.toInt).as("export_year"),
      lit(m.toInt).as("export_month"),
      lit(d.toInt).as("export_day"),
      col("db_type"), col("val"))
  }

  /** The schema of a written daily increment, partition columns included.
    * Readers pass it instead of inferring: inference types an `id_part`
    * whose values are all digits as an int (`"01"` reads back as `1`) and
    * reads a parquet footer in a job of its own.
    */
  val dailySchema: StructType = StructType.fromDDL(
    "id STRING, db_type STRING, val STRING, " +
      "export_year INT, export_month INT, export_day INT, id_part STRING")

  /** The daily layout's clustering, for every writer of that layout:
    * an AQE rebalance on id_part, then each partition sorted by the
    * partition columns and id. The reference clusters with
    * `repartitionByRange(4096, id_part, id)`, whose range bounds cost a
    * sampling job that runs the whole read chain (gz read, envelope
    * parse, key join, AES-CTR, validate) a second time. The rebalance is
    * a hash exchange whose small partitions AQE coalesces and whose
    * skewed ones it splits, so each id_part directory still gets few
    * files of about the advisory size, with no sampling job. The sort
    * leads with every partition column, constant ones included: Spark's
    * planned write needs its input in partition-column order, and when
    * the child's sort does not give exactly that order it sorts again by
    * the partition columns alone and drops the child's sort, which left
    * files unsorted by id.
    */
  def clusterDaily(daily: DataFrame): DataFrame =
    daily.hint("rebalance", col("id_part"))
      .sortWithinPartitions("export_year", "export_month", "export_day", "id_part", "id")

  /** The reference's daily partitioned write (ingesters.py:530-539):
    * [[clusterDaily]] (where this differs from the reference), then
    * dynamic partition overwrite on (export_year, export_month,
    * export_day, id_part). Default parquet+zstd; pass ("orc", "zlib")
    * for the reference's exact storage format — the layout contract is
    * identical. Read it back with [[dailySchema]]. Local paths write
    * through [[NioLocalFileSystem]].
    */
  def writeDaily(daily: DataFrame, path: String,
      format: String = "parquet", compression: String = "zstd"): Unit =
    clusterDaily(daily)
      .write
      .options(NioLocalFileSystem.writeOptions)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", compression)
      .partitionBy("export_year", "export_month", "export_day", "id_part")
      .mode("overwrite")
      .format(format)
      .save(path)
}
