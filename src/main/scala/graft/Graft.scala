package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The library facade — the one import a user of the reference pipeline
  * needs to switch. Groups the engine's capabilities by concern; every
  * entry point is a pure DataFrame-in/DataFrame-out transform (or a
  * column builder), so they compose inside a single Catalyst plan
  * wherever semantics allow.
  *
  * {{{
  * import graft.Graft
  * val processed = Graft.ingest.pipeline(spark.read.text(prefix))
  * Graft.ingest.writeDaily(Graft.ingest.dailyIncrement(processed, "2026-08-12"), out)
  * val latest = Graft.snapshot.latestByKey(df, Seq("id_part", "id"), order)
  * }}}
  */
object Graft {

  /** CDI read path: envelope parse, key resolution, AES-CTR decrypt,
    * validate/sanitise/transform, daily increments, quarantine.
    */
  val ingest: pipeline.Ingest.type = pipeline.Ingest
  val envelope: pipeline.Envelope.type = pipeline.Envelope
  val snapshot: pipeline.Snapshot.type = pipeline.Snapshot
  val hiveExport: pipeline.HiveExport.type = pipeline.HiveExport
  val bucketing: pipeline.Bucketing.type = pipeline.Bucketing

  /** Dedup family: exact, MinHash-LSH, SimHash, n-gram jaccard,
    * embedding cosine, Bloom cross-release, connected-component
    * clustering, repeated-span detection, PassJoin fuzzy linkage,
    * SemDeDup.
    */
  val dedup: operators.Dedup.type = operators.Dedup

  /** Similarity search: brute-force, random-hyperplane LSH, IVF,
    * PQ+ADC, kNN graph join, kNN classification, radius search.
    */
  val ann: operators.Ann.type = operators.Ann

  /** Text analysis: tokens, quality, language ID, fingerprints,
    * winnowing, sampling, redaction, packing, repetition, mixing,
    * decontamination, n-gram counts, tf-idf, entropy, perplexity,
    * filter funnel, composed end-to-end prep.
    */
  val text: operators.Text.type = operators.Text

  /** Skew mitigation (salted join). */
  val skew: operators.Skew.type = operators.Skew

  /** Temporal joins: as-of (point-in-time) and interval/range join. */
  val temporal: queries.Temporal.type = queries.Temporal

  /** Behavioral/product analytics: ordered funnel conversion, cohort
    * retention, last-touch attribution.
    */
  val behavior: queries.Behavior.type = queries.Behavior

  /** Table-layout machinery (the Delta-parity verbs on plain parquet):
    * z-order clustering + file skipping + OPTIMIZE compaction, shallow
    * clone; per-file Bloom index; partition-spec evolution.
    */
  val layout: pipeline.Layout.type = pipeline.Layout
  val bloomIndex: pipeline.BloomIndex.type = pipeline.BloomIndex
  val partitionEvolution: pipeline.PartitionEvolution.type =
    pipeline.PartitionEvolution

  /** Multimodal plumbing: binary metadata, batched feature extraction. */
  val multimodal: graft.multimodal.Multimodal.type = graft.multimodal.Multimodal

  /** Structured Streaming: windowed aggs, sessionization, dedup,
    * enrichment.
    */
  val streaming: graft.streaming.Streaming.type = graft.streaming.Streaming

  def aesCtrDecrypt(data: Column, key: Column, iv: Column): Column =
    functions.aes_ctr_decrypt(data, key, iv)
  def ucValidate(c: Column): Column = functions.uc_validate(c)
  def ucSanitise(c: Column): Column = functions.uc_sanitise(c)
  def vecCosine(a: Column, b: Column): Column = functions.vec_cosine(a, b)

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

  /** Convenience: run the full flagship read path on a directory of
    * envelope JSONL (gz or plain).
    */
  def ingestDirectory(spark: SparkSession, path: String, exportDate: String): DataFrame =
    ingest.dailyIncrement(ingest.pipeline(spark.read.text(path)), exportDate)
}
