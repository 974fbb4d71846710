package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{Envelope, HiveExport, Ingest, KeyService, Snapshot}

/** Block B — the reference CDI pipeline re-expressed (SURVEY.md §2.B).
  *
  * Every query runs the REAL pipeline over deterministic encrypted
  * fixtures synthesized from `documents` (Envelope.synthesize), then
  * projects values a DuckDB oracle can reconstruct in plain SQL from the
  * same table — so decrypt/validate/sanitise must all be byte-correct
  * for the hashes to match. No rows-only checks in this block.
  */
object PipelineQueries {

  private val ExportDate = "2021-06-15"
  private val Cutoff = "2024-01-15 00:00:00"

  /** Shared oracle fragments mirroring Envelope's fixture columns. */
  private val OracleLmZ =
    """printf('2021-%02d-%02dT%02d:%02d:%02d.%03dZ',
      |  doc_id % 12 + 1, doc_id % 28 + 1, doc_id % 24, doc_id % 60,
      |  (doc_id * 7) % 60, doc_id % 1000)""".stripMargin
  private val OracleLmIncoming =
    """printf('2021-%02d-%02dT%02d:%02d:%02d.%03d+0000',
      |  doc_id % 12 + 1, doc_id % 28 + 1, doc_id % 24, doc_id % 60,
      |  (doc_id * 7) % 60, doc_id % 1000)""".stripMargin

  private def pipelined(s: SparkSession, d: String): DataFrame =
    Ingest.pipeline(Envelope.synthesizeCached(s, d))

  /** B1: envelope JSONL → typed columns; every parsed field checked
    * against its SQL reconstruction.
    */
  def pEnvelopeParse(s: SparkSession, d: String): DataFrame =
    Envelope.parse(Envelope.synthesizeCached(s, d))
      .select(
        get_json_object(col("raw_id"), "$.id").cast("long").as("id"),
        col("db"), col("collection"), col("key_enc"), col("iv"),
        col("envelope_lm"))

  val pEnvelopeParseSql: String =
    s"""SELECT doc_id AS id, 'corp' AS db, 'documents' AS collection,
       |  to_base64(unhex(md5('key' || (doc_id % 5)))) AS key_enc,
       |  to_base64(unhex(md5('iv' || doc_id))) AS iv,
       |  $OracleLmIncoming AS envelope_lm
       |FROM documents""".stripMargin

  /** B1b: dead-letter routing — the quarantine-and-continue contract
    * for malformed input (the reference fails the whole task on the
    * first bad line, UCMessage.__init__ json.loads; at corpus scale the
    * right behavior is to route bad lines aside and keep going). The
    * fixture deterministically truncates every envelope whose id ≡ 0
    * (mod 13) — an at-least-once feed's corrupt fraction; the routing
    * under test is Envelope.parse's `malformed` flag (from_json null /
    * missing crypto fields), one codegen'd pass, no pre-validation
    * scan. Dead letters keep their raw line (re-ingestable); the
    * accounting row set is the oracle.
    */
  def pDeadLetter(s: SparkSession, d: String): DataFrame = {
    val lines = Envelope.synthesizeCached(s, d)
    val id = get_json_object(col("value"), "$.message._id.id").cast("long")
    val corrupted = lines.select(
      when(id % 13 === 0, expr("substring(value, 1, length(value) - 5)"))
        .otherwise(col("value")).as("value"))
    Envelope.parse(corrupted)
      .select(col("malformed"),
        get_json_object(col("raw_id"), "$.id").cast("long").as("id"))
      .groupBy(col("malformed"))
      .agg(count(lit(1)).as("cnt"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .select(
        when(col("malformed"), "dead_letter").otherwise("ok").as("status"),
        col("cnt"), col("min_id"), col("max_id"))
  }

  /** A truncated line is invalid JSON end-to-end, so BOTH the typed
    * from_json and the raw-id get_json_object reject it (Jackson parses
    * to completion): dead letters carry NULL ids and only their count —
    * which is the point: a dead letter is opaque until re-ingested.
    */
  val pDeadLetterSql: String =
    """SELECT 'ok' AS status, COUNT(*) AS cnt,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      |FROM documents WHERE doc_id % 13 != 0
      |UNION ALL
      |SELECT 'dead_letter', COUNT(*),
      |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      |FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** B2: AES-CTR decrypt — payload fields only reachable through a
    * correct decrypt under the resolved data key.
    */
  def pDecrypt(s: SparkSession, d: String): DataFrame =
    Ingest.decrypt(KeyService.identity.withDataKeys(
        Envelope.parse(Envelope.synthesizeCached(s, d))))
      .select(
        get_json_object(col("raw_id"), "$.id").cast("long").as("id"),
        get_json_object(col("decrypted"), "$.n_chars").cast("long").as("n_chars"),
        get_json_object(col("decrypted"), "$.lang").as("lang"))

  val pDecryptSql: String =
    "SELECT doc_id AS id, n_chars, lang FROM documents"

  /** B2b: KEK ROTATION — re-wrap every record's data key under a new
    * key-encryption key WITHOUT touching payload ciphertext (the
    * envelope-encryption rotation the reference's DKS/KMS posture
    * implies: compromise or expiry of a KEK forces re-wrapping billions
    * of edeks, and re-encrypting the payloads would be a full corpus
    * rewrite). The rotated edek is self-contained (`wrapIV:ciphertext`
    * — the wrap carries its own IV, the standard KMS envelope shape),
    * so key resolution stays a pure edek→key function and the SAME
    * bounded-distinct broadcast KeyService consumes it.
    *
    * Scale shape: rotation is a pure per-row column op over edeks
    * (bytes-sized, not payload-sized) — rides the scan, zero shuffle;
    * the proof-of-decryptability pass afterwards is p_decrypt's plan
    * against the new service. The spec pins the operational contracts:
    * payload ciphertext BYTE-IDENTICAL across rotation, every edek
    * changed, old resolver now yields garbage.
    */
  private val Kek2: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("kek2".getBytes("UTF-8"))
    java.util.Base64.getEncoder.encodeToString(md)
  }

  def rotateKeys(parsed: DataFrame): DataFrame = {
    val wrapIv = base64(unhex(md5(concat(lit("rot"), col("key_enc")))))
    parsed.withColumn("key_enc",
      concat(wrapIv, lit(":"),
        graft.functions.aes_ctr_encrypt(col("key_enc"), lit(Kek2), wrapIv)))
  }

  /** Unwraps `wrapIV:ct` edeks under Kek2 — the post-rotation resolver. */
  def rotatedKeyService: KeyService = new KeyService(k => {
    val sep = k.indexOf(':')
    require(sep > 0, s"not a rotated edek: $k")
    graft.functions.AesCtr.decryptB64(
      org.apache.spark.unsafe.types.UTF8String.fromString(k.substring(sep + 1)),
      org.apache.spark.unsafe.types.UTF8String.fromString(Kek2),
      org.apache.spark.unsafe.types.UTF8String.fromString(k.substring(0, sep)))
      .toString
  })

  def pKeyRotate(s: SparkSession, d: String): DataFrame =
    Ingest.decrypt(rotatedKeyService.withDataKeys(
        rotateKeys(Envelope.parse(Envelope.synthesizeCached(s, d)))))
      .select(
        get_json_object(col("raw_id"), "$.id").cast("long").as("id"),
        get_json_object(col("decrypted"), "$.n_chars").cast("long").as("n_chars"),
        get_json_object(col("decrypted"), "$.lang").as("lang"))

  val pKeyRotateSql: String =
    "SELECT doc_id AS id, n_chars, lang FROM documents"

  /** B2c: CRYPTO-SHREDDING — the right-to-be-forgotten implementation
    * that never rewrites data: destroying a data key makes every record
    * encrypted under it permanently unreadable, so erasure is a
    * KEY-LIST operation (bytes stay in place, audit trails intact, no
    * 100 TB rewrite). Here the revocation is a broadcast anti-join of
    * the parsed envelopes against the revoked-edek list BEFORE any
    * decryption (the practical path: a shredded record must not even
    * reach a decryptor), and the output reports both halves: surviving
    * records decrypt and normalize as ever; shredded ones appear only
    * as a count. The envelope fixture wraps doc keys as key(doc_id%5),
    * so revoking key0 erases exactly the doc_id ≡ 0 (mod 5) slice —
    * the oracle re-derives both populations from that law.
    *
    * Scale shape: the revocation list is keys (tiny, broadcast); the
    * scan-side anti-join costs one codegen'd hash probe per record —
    * erasure of any slice of a 100 TB corpus is O(corpus scan) once,
    * or O(0) if enforcement happens at read time (this operator IS the
    * read-time enforcement plan).
    */
  private val ShreddedKeyIdx = 0L

  def pCryptoShred(s: SparkSession, d: String): DataFrame = {
    val parsed = Envelope.parse(Envelope.synthesizeCached(s, d))
    // the revoked data key, in the fixture's own wrapping
    val revoked = Tables.documents(s, d).sparkSession.range(1)
      .select(base64(unhex(md5(lit("key" + ShreddedKeyIdx)))).as("key_enc"))
    val survivors = parsed.join(broadcast(revoked), Seq("key_enc"), "left_anti")
    val shredded = parsed.join(broadcast(revoked), Seq("key_enc"), "left_semi")
    val decrypted = Ingest.decrypt(KeyService.identity.withDataKeys(survivors))
      .select(
        get_json_object(col("raw_id"), "$.id").cast("long").as("id"),
        get_json_object(col("decrypted"), "$.n_chars").cast("long").as("n_chars"),
        lit("kept").as("status"))
    decrypted.unionAll(
      shredded.select(
        get_json_object(col("raw_id"), "$.id").cast("long").as("id"),
        lit(null).cast("long").as("n_chars"),
        lit("shredded").as("status")))
  }

  val pCryptoShredSql: String =
    s"""SELECT doc_id AS id,
       |  CASE WHEN doc_id % 5 = $ShreddedKeyIdx THEN NULL ELSE n_chars END AS n_chars,
       |  CASE WHEN doc_id % 5 = $ShreddedKeyIdx THEN 'shredded' ELSE 'kept' END AS status
       |FROM documents""".stripMargin

  /** B3: validate — last-modified reformat (wrapped as {$date: Z-form},
    * sanitised to d_date) + delete flagging.
    */
  def pValidateWrap(s: SparkSession, d: String): DataFrame =
    pipelined(s, d).select(
      get_json_object(col("raw_id"), "$.id").cast("long").as("id"),
      col("is_delete"),
      get_json_object(col("val"), "$._lastModifiedDateTime.d_date").as("lm"))

  val pValidateWrapSql: String =
    s"""SELECT doc_id AS id, (doc_id % 10 = 0) AS is_delete,
       |  $OracleLmZ AS lm
       |FROM documents""".stripMargin

  /** B4: sanitise ($→d_, archived→removed renames) as one column
    * expression, vs DuckDB's replace chain.
    */
  def pSanitise(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(lit("{\"$doc\":\""), col("doc_id").cast("string"),
          lit("\",\"source\":\""), col("source"),
          lit("\",\"_archivedDateTime\":\"a\",\"_archived\":\"b\"}")).as("raw"))
      .select(col("doc_id"), graft.functions.uc_sanitise(col("raw")).as("sanitised"))

  val pSanitiseSql: String =
    """SELECT doc_id,
      |  replace(replace(replace(
      |    '{"$doc":"' || doc_id || '","source":"' || source ||
      |    '","_archivedDateTime":"a","_archived":"b"}',
      |    '$', 'd_'), '_archivedDateTime', '_removedDateTime'),
      |    '_archived', '_removed') AS sanitised
      |FROM documents""".stripMargin

  /** B5: businessAudit transform — context unwrap + TIME_STAMP
    * injection, run through the full pipeline (transform → validate →
    * sanitise).
    */
  def pTransformAudit(s: SparkSession, d: String): DataFrame =
    Ingest.pipeline(Envelope.synthesizeAuditCached(s, d))
      .select(
        get_json_object(col("val"), "$.AUDIT_ID").cast("long").as("audit_id"),
        get_json_object(col("val"), "$.AUDIT_EVENT").as("audit_event"),
        get_json_object(col("val"), "$.TIME_STAMP.d_date").as("time_stamp"))

  val pTransformAuditSql: String =
    s"""SELECT doc_id AS audit_id, source AS audit_event,
       |  $OracleLmZ AS time_stamp
       |FROM documents""".stripMargin

  /** B6: latest record per key — max_by partial agg (one shuffle, no
    * sort) vs the oracle's window row_number.
    */
  def pLatestByKey(s: SparkSession, d: String): DataFrame =
    Snapshot.latestByKey(
      Tables.events(s, d).select("user_id", "event_id", "ts", "event_type", "value"),
      Seq("user_id"), struct(col("ts"), col("event_id")))

  val pLatestByKeySql: String =
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  /** B7: daily-increment derived columns (id_part, export y/m/d,
    * db_type) — the partitioned-layout accounting of ingesters.py:505-539.
    */
  def pDailyIncrement(s: SparkSession, d: String): DataFrame =
    Ingest.dailyIncrement(pipelined(s, d), ExportDate)
      .groupBy("id_part", "export_year", "export_month", "export_day", "db_type")
      .agg(count(lit(1)).as("cnt"))

  val pDailyIncrementSql: String =
    """SELECT substr(CAST(doc_id AS VARCHAR), 1, 2) AS id_part,
      |  2021 AS export_year, 6 AS export_month, 15 AS export_day,
      |  CASE WHEN doc_id % 10 = 0 THEN 'DELETE' ELSE 'INSERT' END AS db_type,
      |  COUNT(*) AS cnt
      |FROM documents GROUP BY 1, 5""".stripMargin

  /** B8: merge a prior export with post-cutoff dailies → one latest
    * record per key (ingesters.py:341-460 re-expressed as max_by). The
    * merged result roundtrips through the REAL snapshot layout —
    * ORC+zlib partitioned by id_part, the reference's exact export
    * storage — and the published answer is read back FROM that
    * snapshot, so the format path sits under the hash gate.
    */
  def pMergeSnapshot(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("user_id", "event_id", "ts", "event_type")
    val cutoff = lit(Cutoff).cast("timestamp")
    val export = Snapshot.latestByKey(
        ev.filter(col("ts") < cutoff), Seq("user_id"), struct(col("ts"), col("event_id")))
      .withColumn("db_type", lit("INSERT"))
    val dailies = ev.filter(col("ts") >= cutoff)
      .withColumn("db_type",
        when(col("event_type") === "error", "DELETE").otherwise("INSERT"))
    val merged = Snapshot.merge(export, dailies, Seq("user_id"),
        struct(col("ts"), col("event_id")))
      .select("user_id", "event_id", "db_type")
      .withColumn("id", col("user_id").cast("string"))
      .withColumn("id_part", substring(col("user_id").cast("string"), 1, 2))
    val out = s"/tmp/graft_snapshot_orc_${graft.Stage.sourceFingerprint(d, "events")}"
    Snapshot.writeSnapshot(merged, out)
    graft.Stage.refreshArtifact(s, new java.io.File(out))
    s.read.orc(out).select("user_id", "event_id", "db_type")
  }

  val pMergeSnapshotSql: String =
    """SELECT user_id, event_id,
      |  CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' AND event_type = 'error'
      |       THEN 'DELETE' ELSE 'INSERT' END AS db_type
      |FROM (
      |  SELECT user_id, event_id, ts, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  /** B9: payload extraction — the Hive-export shape (from_json(ddl) →
    * select val.*) + aggregation over extracted fields.
    */
  def pJsonExtract(s: SparkSession, d: String): DataFrame =
    HiveExport.exportShape(pipelined(s, d),
        "text STRING, lang STRING, source STRING, n_chars BIGINT")
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"), sum("n_chars").as("total_chars"))

  val pJsonExtractSql: String =
    """SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** B9v: the VARIANT-STORE twin of p_json_extract — same Hive-export
    * semantics (ingesters.py:283-339's from_json → select val.*), same
    * oracle, but the record JSON is parsed ONCE at ingest into a
    * VariantType parquet artifact (range-laid-out on (id_part, id),
    * the export's own clustering) and the registered query answers
    * from the STORED binary with variant_get — zero parse_json on the
    * read path. p_json_extract is the slowest reference-semantics row
    * at sf1 (~9.6 s, one from_json per row per query); this is the
    * measured 100 TB swap: the corpus's parse cost moves from
    * every-query to once-at-ingest, and Spark 4.x shreds the stored
    * variant's extracted paths into columnar fields at scan time.
    */
  def pJsonExtractVariant(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(
      s"/tmp/graft_varexport_${graft.Stage.sourceFingerprint(d, "documents")}")
    val phys = graft.Stage.ensureArtifact(s, base) { tmp =>
      pipelined(s, d)
        .select(col("id_part"), col("id"), col("val"))
        .repartitionByRange(col("id_part"), col("id"))
        .select(parse_json(col("val")).as("v"))
        .write.parquet(tmp.getPath)
    }
    s.read.parquet(phys.getPath)
      .select(
        variant_get(col("v"), "$.lang", "string").as("lang"),
        variant_get(col("v"), "$.n_chars", "bigint").as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"), sum("n_chars").as("total_chars"))
  }

  /** B10: INSERT/DELETE classification + delete filtering accounting. */
  def pDeleteFlag(s: SparkSession, d: String): DataFrame =
    pipelined(s, d)
      .groupBy("db_type")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("id_part")).as("distinct_parts"))

  val pDeleteFlagSql: String =
    """SELECT CASE WHEN doc_id % 10 = 0 THEN 'DELETE' ELSE 'INSERT' END AS db_type,
      |  COUNT(*) AS cnt,
      |  COUNT(DISTINCT substr(CAST(doc_id AS VARCHAR), 1, 2)) AS distinct_parts
      |FROM documents GROUP BY 1""".stripMargin

  /** B11: incremental aggregate maintenance — the daily-report pattern
    * at 100 TB: never re-scan history. "Yesterday's" stored state is a
    * table of MERGEABLE partials (count + decimal sum per group); the
    * new day contributes its own partials; the published aggregate is
    * one re-aggregation of state ∪ delta — history is read zero times.
    * avg is derived from (sum, count) at publish, never stored (it
    * doesn't merge). Oracle: the same aggregate computed from scratch —
    * proving state-merge ≡ full recompute.
    */
  def pIncrementalAgg(s: SparkSession, d: String): DataFrame = {
    import graft.queries.QueryDef.dec
    val cutoff = lit("1996-01-01")
    val orders = Tables.orders(s, d)
    def partials(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("o_orderpriority"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("rev"))
    val state = partials(orders.filter(col("o_orderdate") < cutoff))
    val delta = partials(orders.filter(col("o_orderdate") >= cutoff))
    state.unionByName(delta)
      .groupBy("o_orderpriority", "month")
      .agg(sum(col("n")).as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"))
      .withColumn("avg_price",
        (col("revenue") / col("n_orders")).cast("double"))
  }

  val pIncrementalAggSql: String =
    """SELECT o_orderpriority, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_price
      |FROM orders GROUP BY 1, 2""".stripMargin

  /** B17: one-pass column profiling — the ANALYZE TABLE step a pipeline
    * runs before choosing partition/bucket keys: per column, row count,
    * null count, exact distinct count, min and max (rendered to strings
    * under a fixed per-type contract so the hash gate covers the
    * values). ONE aggregate over ONE scan computes all 6 columns' stats
    * simultaneously (Catalyst plans the multi-DISTINCT via Expand — one
    * shuffle, no per-column re-scan), then a `stack` pivots the single
    * stats row to long form. At 100 TB this is the difference between 6
    * table scans and 1. Numeric min/max render via DECIMAL(18,2),
    * timestamps via epoch-µs — both engines produce identical strings.
    */
  /** B-mon: distribution DRIFT between two corpus epochs — the
    * Population Stability Index per event_type over the purchase-value
    * distribution, the standard "did the feed change shape" monitor
    * that sits next to p_profile (point-in-time stats) and
    * p_table_diff (row-level deltas). Epochs split at a fixed
    * boundary (2024-01-16T00:00:00Z — the fixture month's midpoint);
    * values bucket into fixed $100-wide cent buckets (no trained
    * breakpoints — deterministic at any scale), counts Laplace-smooth
    * over each type's observed-bucket union, and
    * PSI = Σ_b (p̂A − p̂B)·ln(p̂A/p̂B). One scan, one (type, bucket)
    * aggregate, a per-type total join — corpus-linear, result rows =
    * event types. Per-bucket terms floor to 8-dp fixed point from
    * scalars and sum as BIGINT (the t_bm25/t_dsir float discipline).
    */
  def qDriftPsi(s: SparkSession, d: String): DataFrame = {
    import graft.queries.QueryDef.dec
    val splitUs = 1705363200000000L
    val e = Tables.events(s, d).select(col("event_type"),
      unix_micros(col("ts")).as("us"),
      // explicit FLOOR (not integer `div`) so a negative refund value
      // buckets identically across engines: Spark div and DuckDB //
      // both truncate toward zero, but floor is the semantics a PSI
      // bucketing wants and removes any dependence on `//` behavior
      expr("CAST(FLOOR(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) / 10000.0) AS BIGINT)").as("bucket"))
    val bc = e.groupBy("event_type", "bucket").agg(
      sum(when(col("us") < splitUs, 1L).otherwise(0L)).as("na"),
      sum(when(col("us") >= splitUs, 1L).otherwise(0L)).as("nb"))
    val tot = bc.groupBy("event_type")
      .agg(sum("na").as("ta"), sum("nb").as("tb"), count(lit(1)).as("nbk"))
    val pa = (col("na").cast("double") + 1.0) /
      (col("ta").cast("double") + col("nbk").cast("double"))
    val pb = (col("nb").cast("double") + 1.0) /
      (col("tb").cast("double") + col("nbk").cast("double"))
    val termFx = floor((pa - pb) * log(pa / pb) * 100000000 + 0.5).cast("long")
    bc.join(tot, Seq("event_type"))
      .select(col("event_type"), col("ta"), col("tb"), col("nbk"), termFx.as("fx"))
      .groupBy("event_type")
      .agg(max("ta").as("n_a"), max("tb").as("n_b"),
        max("nbk").as("n_buckets"), sum("fx").as("sfx"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("n_buckets"),
        (col("sfx").cast("double") / 100000000.0).as("psi"))
  }

  val qDriftPsiSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS us,
      |    CAST(FLOOR(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) / 10000.0) AS BIGINT) AS bucket
      |  FROM events),
      |bc AS (
      |  SELECT event_type, bucket,
      |    SUM(CASE WHEN us < 1705363200000000 THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN us >= 1705363200000000 THEN 1 ELSE 0 END) AS nb
      |  FROM e GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb, COUNT(*) AS nbk
      |  FROM bc GROUP BY 1),
      |terms AS (
      |  SELECT bc.event_type, tot.ta, tot.tb, tot.nbk,
      |    CAST(FLOOR(
      |      ((CAST(na AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + CAST(nbk AS DOUBLE))
      |       - (CAST(nb AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + CAST(nbk AS DOUBLE)))
      |      * ln(((CAST(na AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + CAST(nbk AS DOUBLE)))
      |           / ((CAST(nb AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + CAST(nbk AS DOUBLE))))
      |      * 100000000 + 0.5) AS BIGINT) AS fx
      |  FROM bc JOIN tot USING (event_type))
      |SELECT event_type, CAST(MAX(ta) AS BIGINT) AS n_a,
      |  CAST(MAX(tb) AS BIGINT) AS n_b, CAST(MAX(nbk) AS BIGINT) AS n_buckets,
      |  CAST(SUM(fx) AS DOUBLE) / 100000000.0 AS psi
      |FROM terms GROUP BY event_type""".stripMargin

  /** B-gov: SUBJECT ACCESS export (GDPR/DSAR — squarely the reference
    * domain's obligation): collect every record linked to a bounded
    * subject set across the relational estate — profile rows, their
    * orders, and the orders' line items (the transitive hop a real
    * DSAR must follow) — into one entity-attribute-value stream
    * (subject, source_table, record_key, field, value_s). EAV keeps
    * the export hashable and schema-stable however many tables join
    * the estate; values stringify through the established contracts
    * (Money via DECIMAL(18,2), timestamps as epoch-µs — never raw).
    *
    * Scale shape: the subject set is bounded and BROADCAST; each
    * table contributes one semi-join + projection (no shuffle beyond
    * its scan), the lineitem hop rides the subject orders' keys.
    * 100 TB story: per-table scans with a broadcast probe — the same
    * plan a point-lookup export service would run, p_bloom_index /
    * z-order handle the file-skipping layer underneath.
    */
  def pSubjectExport(s: SparkSession, d: String): DataFrame = {
    import graft.queries.QueryDef.dec
    val subjects = Tables.customer(s, d)
      .filter(col("c_custkey") % SubjectMod === 0)
      .select(col("c_custkey").as("subject_id"))
    def eav(df: DataFrame, table: String, key: org.apache.spark.sql.Column,
        fields: (String, org.apache.spark.sql.Column)*): DataFrame = {
      val stackArgs = fields.map { case (n, c) => s"'$n', $n" }.mkString(", ")
      df.select((col("subject_id") +: lit(table).as("source_table") +:
        key.cast("string").as("record_key") +:
        fields.map { case (n, c) => c.cast("string").as(n) }): _*)
        .select(col("subject_id"), col("source_table"), col("record_key"),
          expr(s"stack(${fields.size}, $stackArgs) AS (field, value_s)"))
    }
    val cust = eav(
      Tables.customer(s, d).join(broadcast(subjects),
        col("c_custkey") === col("subject_id")),
      "customer", col("c_custkey"),
      "c_name" -> col("c_name"),
      "c_mktsegment" -> col("c_mktsegment"),
      "c_acctbal" -> dec(col("c_acctbal")))
    val subjOrders = Tables.orders(s, d).join(broadcast(subjects),
      col("o_custkey") === col("subject_id"))
    val ord = eav(subjOrders, "orders", col("o_orderkey"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_orderpriority" -> col("o_orderpriority"),
      "o_totalprice" -> dec(col("o_totalprice")),
      "o_orderdate_us" -> unix_micros(col("o_orderdate").cast("timestamp")))
    val li = eav(
      Tables.lineitem(s, d).join(
        broadcast(subjOrders.select(col("o_orderkey"), col("subject_id"))),
        col("l_orderkey") === col("o_orderkey")),
      "lineitem",
      concat(col("l_orderkey"), lit("-"), col("l_linenumber")),
      "l_quantity" -> dec(col("l_quantity")),
      "l_extendedprice" -> dec(col("l_extendedprice")),
      "l_returnflag" -> col("l_returnflag"))
    cust.unionAll(ord).unionAll(li)
  }

  private val SubjectMod = 150

  val pSubjectExportSql: String =
    s"""WITH s AS (SELECT c_custkey AS subject_id FROM customer
       |           WHERE c_custkey % $SubjectMod = 0),
       |so AS (SELECT o.*, s.subject_id FROM orders o
       |       JOIN s ON o.o_custkey = s.subject_id)
       |SELECT subject_id, 'customer' AS source_table,
       |  CAST(c_custkey AS VARCHAR) AS record_key, f.field, f.value_s
       |FROM customer c JOIN s ON c.c_custkey = s.subject_id,
       |  LATERAL (VALUES
       |    ('c_name', c.c_name),
       |    ('c_mktsegment', c.c_mktsegment),
       |    ('c_acctbal', CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS VARCHAR))
       |  ) AS f(field, value_s)
       |UNION ALL
       |SELECT subject_id, 'orders',
       |  CAST(o_orderkey AS VARCHAR), f.field, f.value_s
       |FROM so,
       |  LATERAL (VALUES
       |    ('o_orderstatus', so.o_orderstatus),
       |    ('o_orderpriority', so.o_orderpriority),
       |    ('o_totalprice', CAST(CAST(so.o_totalprice AS DECIMAL(18,2)) AS VARCHAR)),
       |    ('o_orderdate_us', CAST(epoch_us(so.o_orderdate) AS VARCHAR))
       |  ) AS f(field, value_s)
       |UNION ALL
       |SELECT so.subject_id, 'lineitem',
       |  CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR),
       |  f.field, f.value_s
       |FROM lineitem l JOIN so ON l.l_orderkey = so.o_orderkey,
       |  LATERAL (VALUES
       |    ('l_quantity', CAST(CAST(l.l_quantity AS DECIMAL(18,2)) AS VARCHAR)),
       |    ('l_extendedprice', CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)),
       |    ('l_returnflag', l.l_returnflag)
       |  ) AS f(field, value_s)""".stripMargin

  /** B-gov: k-anonymity audit (the privacy check a DWP-style data
    * owner runs BEFORE releasing a derived extract — the complement to
    * p_subject_export's per-subject view and t_redact's value-level
    * masking): generalize the quasi-identifiers (nation, market
    * segment, account balance coarsened to $1000 bands), then flag
    * every equivalence class smaller than k=5 — the rows a release
    * would have to suppress or generalize further because the
    * combination re-identifies. Band edges use floor() over one IEEE
    * division of exact cents (never `div`: truncation and floor
    * disagree on the NEGATIVE balances this table really has — the
    * q_drift_psi lesson); counts are integers; the flag is an INT so
    * no engine bool-rendering can differ.
    *
    * Scale shape: ONE hash aggregate over the generalized key — the
    * audit costs the same as any group-count at 100 TB, and the class
    * table it emits is bounded by the generalized-domain product, not
    * the data.
    */
  def pKanon(s: SparkSession, d: String): DataFrame = {
    val k = lit(5L)
    Tables.customer(s, d)
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        expr("""CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                / 100000.0) AS BIGINT)""").as("bal_band"))
      .groupBy("nation", "segment", "bal_band")
      .agg(count(lit(1)).as("n"))
      .select(col("nation"), col("segment"), col("bal_band"), col("n"),
        when(col("n") < k, 1).otherwise(0).cast("int").as("suppressed"))
  }

  val pKanonSql: String =
    """SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
      |  CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |       / 100000.0) AS BIGINT) AS bal_band,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS INTEGER) AS suppressed
      |FROM customer
      |GROUP BY 1, 2, 3""".stripMargin

  /** B-gov: the k-anonymous RELEASE EXTRACT — p_kanon's audit applied
    * (the composability step: the audit table drives the masking, the
    * s_mmr_ivf convention carried into governance): every customer row
    * re-keyed to its generalized quasi-identifiers, and rows in
    * equivalence classes below k=5 have those identifiers masked to
    * '*' so the published extract can't re-identify. Non-quasi payload
    * (balance as Money-string) passes through untouched — masking
    * withholds linkage, not the measure.
    *
    * Scale shape: the class table is generalized-domain-bounded and
    * BROADCAST back onto one customer scan — release cost = one scan
    * at any size.
    */
  def pKanonApply(s: SparkSession, d: String): DataFrame = {
    import graft.queries.QueryDef.dec
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"),
        expr("""CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                / 100000.0) AS BIGINT)""").as("bal_band"),
        dec(col("c_acctbal")).cast("string").as("acctbal"))
    val classes = pKanon(s, d).select(col("nation"), col("segment"),
      col("bal_band"), col("suppressed"))
    base.join(broadcast(classes), Seq("nation", "segment", "bal_band"))
      .select(col("c_custkey"),
        when(col("suppressed") === 1, lit("*"))
          .otherwise(col("nation").cast("string")).as("nation_out"),
        when(col("suppressed") === 1, lit("*"))
          .otherwise(col("segment")).as("segment_out"),
        when(col("suppressed") === 1, lit("*"))
          .otherwise(col("bal_band").cast("string")).as("band_out"),
        col("acctbal"), col("suppressed"))
  }

  val pKanonApplySql: String =
    """WITH q AS (
      |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
      |    c_mktsegment AS segment,
      |    CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |         / 100000.0) AS BIGINT) AS bal_band,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS acctbal
      |  FROM customer),
      |cls AS (
      |  SELECT nation, segment, bal_band,
      |    CAST(CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS INTEGER) AS suppressed
      |  FROM q GROUP BY 1, 2, 3)
      |SELECT q.c_custkey,
      |  CASE WHEN cls.suppressed = 1 THEN '*' ELSE CAST(q.nation AS VARCHAR) END
      |    AS nation_out,
      |  CASE WHEN cls.suppressed = 1 THEN '*' ELSE q.segment END AS segment_out,
      |  CASE WHEN cls.suppressed = 1 THEN '*' ELSE CAST(q.bal_band AS VARCHAR) END
      |    AS band_out,
      |  q.acctbal, cls.suppressed
      |FROM q JOIN cls USING (nation, segment, bal_band)""".stripMargin

  /** B-gov: retention-policy sweep (the TTL audit a data-protection
    * owner runs before the purge job — the reference domain's other
    * standing obligation next to p_kanon/p_subject_export): per event
    * class, its policy TTL (behavioral telemetry 90 days, contractual
    * events 365), how much of the table has aged past it, and the age
    * envelope. "Now" anchors to the corpus max timestamp so the audit
    * is deterministic and replayable; ages are nonnegative integer
    * day counts (`div` safe — no negative operand exists).
    *
    * Scale shape: one scalar max-aggregate broadcast into ONE
    * conditional-count scan — the audit costs a group-count at any
    * corpus size, and emits the purge job's exact work manifest.
    */
  def pRetentionSweep(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val anchor = ev.agg(max("us").as("now_us"))
    ev.crossJoin(broadcast(anchor))
      .withColumn("age_days", expr("(now_us - us) div 86400000000"))
      .withColumn("ttl_days",
        when(col("event_type").isin("view", "click"), 90L).otherwise(365L))
      .groupBy("event_type")
      .agg(max("ttl_days").as("ttl_days"), count(lit(1)).as("n_total"),
        sum(when(col("age_days") > col("ttl_days"), 1L).otherwise(0L)).as("n_expired"),
        max("age_days").as("oldest_age_days"), min("age_days").as("newest_age_days"))
  }

  val pRetentionSweepSql: String =
    """WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
      |anchor AS (SELECT MAX(us) AS now_us FROM ev),
      |aged AS (
      |  SELECT event_type, (now_us - us) // 86400000000 AS age_days,
      |    CASE WHEN event_type IN ('view', 'click') THEN 90 ELSE 365 END AS ttl_days
      |  FROM ev CROSS JOIN anchor)
      |SELECT event_type, CAST(MAX(ttl_days) AS BIGINT) AS ttl_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(SUM(CASE WHEN age_days > ttl_days THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
      |  CAST(MAX(age_days) AS BIGINT) AS oldest_age_days,
      |  CAST(MIN(age_days) AS BIGINT) AS newest_age_days
      |FROM aged GROUP BY 1""".stripMargin

  def pProfile(s: SparkSession, d: String): DataFrame = {
    import graft.queries.QueryDef.dec
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
    def mmBig(c: String) = (min(col(c)).cast("string"), max(col(c)).cast("string"))
    def mmStr(c: String) = (min(col(c)), max(col(c)))
    val o = Tables.orders(s, d)
    // r16: STRING min/max (o_orderstatus / o_orderpriority) carry
    // immutable agg buffers, and ONE such function in an Aggregate
    // demotes the WHOLE node to SortAggregate — here that meant
    // sorting the 7× Expand of the multi-distinct rewrite twice
    // (measured: the whole query was sort time). Split them into a
    // second, Expand-free agg over a 2-column pruned scan (no
    // grouping keys ⇒ no sort anywhere) and cross-join the two
    // 1-row results: every Expand-phase aggregate is now
    // hash-based. One extra 2-column scan is the documented cost —
    // cheap at any scale next to sorting 7× the table.
    val aggMain = o.agg(
      count(lit(1)).as("n_rows"),
      nulls("o_orderkey").as("nn1"), countDistinct(col("o_orderkey")).as("nd1"),
      nulls("o_custkey").as("nn2"), countDistinct(col("o_custkey")).as("nd2"),
      nulls("o_orderstatus").as("nn3"), countDistinct(col("o_orderstatus")).as("nd3"),
      nulls("o_totalprice").as("nn4"), countDistinct(col("o_totalprice")).as("nd4"),
      nulls("o_orderdate").as("nn5"), countDistinct(col("o_orderdate")).as("nd5"),
      nulls("o_orderpriority").as("nn6"), countDistinct(col("o_orderpriority")).as("nd6"),
      mmBig("o_orderkey")._1.as("mn1"), mmBig("o_orderkey")._2.as("mx1"),
      mmBig("o_custkey")._1.as("mn2"), mmBig("o_custkey")._2.as("mx2"),
      min(dec(col("o_totalprice"))).cast("string").as("mn4"),
      max(dec(col("o_totalprice"))).cast("string").as("mx4"),
      unix_micros(min(col("o_orderdate")).cast("timestamp")).cast("string").as("mn5"),
      unix_micros(max(col("o_orderdate")).cast("timestamp")).cast("string").as("mx5"))
    val aggStr = o.agg(
      mmStr("o_orderstatus")._1.as("mn3"), mmStr("o_orderstatus")._2.as("mx3"),
      mmStr("o_orderpriority")._1.as("mn6"), mmStr("o_orderpriority")._2.as("mx6"))
    val agg = aggMain.crossJoin(aggStr)
    agg.select(col("n_rows"), expr(
      """stack(6,
        |  'o_orderkey',      nn1, nd1, mn1, mx1,
        |  'o_custkey',       nn2, nd2, mn2, mx2,
        |  'o_orderstatus',   nn3, nd3, mn3, mx3,
        |  'o_totalprice',    nn4, nd4, mn4, mx4,
        |  'o_orderdate',     nn5, nd5, mn5, mx5,
        |  'o_orderpriority', nn6, nd6, mn6, mx6)
        |  AS (col_name, n_null, n_distinct, min_s, max_s)""".stripMargin))
  }

  val pProfileSql: String = {
    def block(c: String, mn: String, mx: String) =
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  COUNT(DISTINCT $c) AS n_distinct, $mn AS min_s, $mx AS max_s
         |FROM orders""".stripMargin
    Seq(
      block("o_orderkey", "CAST(MIN(o_orderkey) AS VARCHAR)", "CAST(MAX(o_orderkey) AS VARCHAR)"),
      block("o_custkey", "CAST(MIN(o_custkey) AS VARCHAR)", "CAST(MAX(o_custkey) AS VARCHAR)"),
      block("o_orderstatus", "MIN(o_orderstatus)", "MAX(o_orderstatus)"),
      block("o_totalprice",
        "CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)",
        "CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)"),
      block("o_orderdate",
        "CAST(epoch_us(MIN(o_orderdate)) AS VARCHAR)",
        "CAST(epoch_us(MAX(o_orderdate)) AS VARCHAR)"),
      block("o_orderpriority", "MIN(o_orderpriority)", "MAX(o_orderpriority)"),
    ).mkString("\nUNION ALL\n")
  }

  /** B18: CDC MERGE with tombstones — the Delta-style `MERGE INTO`
    * semantics the reference's snapshot merge (ingesters.py:429-460)
    * stops short of: apply a post-cutoff change stream (UPSERT rows +
    * DELETE tombstones, `error` events standing in for deletes) onto
    * the prior latest-state snapshot. Per key: the latest of
    * (base version ∪ changes) wins; a winning tombstone REMOVES the key
    * from the result (not just flags it — p_delete_flag is the
    * flag-only form); keys born after the cutoff insert. `n_applied`
    * audits how many change rows each surviving key absorbed. One
    * max_by partial aggregation — the shuffle carries one combined row
    * per key per partition, never the change history.
    */
  def pCdcApply(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), col("event_type"), col("ts"))
    val cutoff = lit(Cutoff).cast("timestamp")
    val base = Snapshot.latestByKey(
        ev.filter(col("ts") < cutoff).drop("ts"),
        Seq("user_id"), struct(col("us"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("us"),
        lit("UPSERT").as("op"), lit(0L).as("ch"))
    val changes = ev.filter(col("ts") >= cutoff).select(
      col("user_id"), col("event_id"), col("us"),
      when(col("event_type") === "error", "DELETE").otherwise("UPSERT").as("op"),
      lit(1L).as("ch"))
    base.unionByName(changes)
      .groupBy("user_id")
      .agg(
        max_by(struct(col("event_id"), col("us"), col("op")),
          struct(col("us"), col("event_id"))).as("last"),
        sum(col("ch")).as("n_applied"))
      .filter(col("last.op") =!= "DELETE")
      .select(col("user_id"), col("last.event_id").as("event_id"),
        col("last.us").as("us"), col("n_applied"))
  }

  val pCdcApplySql: String =
    """WITH u AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' AND event_type = 'error'
      |         THEN 'DELETE' ELSE 'UPSERT' END AS op,
      |    CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 0 END AS ch
      |  FROM events),
      |r AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn,
      |    CAST(SUM(ch) OVER (PARTITION BY user_id) AS BIGINT) AS n_applied
      |  FROM u)
      |SELECT user_id, event_id, us, n_applied FROM r
      |WHERE rn = 1 AND op <> 'DELETE'""".stripMargin

  /** B19: data-quality expectations — the declarative constraint gate
    * (Deequ/Great-Expectations shape) a pipeline runs before publishing
    * a batch: not-null, uniqueness, value-domain, range, and
    * referential-integrity rules evaluated together, emitting one
    * (rule, n_violations, status) row each. Single-pass design: every
    * non-join rule is a conditional aggregate in ONE scan of orders
    * (uniqueness = n_rows − n_distinct in the same aggregate);
    * referential integrity is one anti-join count. A failing batch at
    * 100 TB costs one scan + one join to reject, not one pass per rule.
    */
  def pExpectations(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v1"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v2"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("v3"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v4"),
      sum(when(col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
          col("o_orderdate") >= lit("2030-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("v5"))
    val orphan = o.join(Tables.customer(s, d),
        o("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v6"))
    agg.crossJoin(broadcast(orphan))
      .select(col("n_rows"), expr(
        """stack(6,
          |  'not_null:o_orderkey',      v1,
          |  'unique:o_orderkey',        v2,
          |  'domain:o_orderstatus',     v3,
          |  'positive:o_totalprice',    v4,
          |  'range:o_orderdate',        v5,
          |  'ref:o_custkey->customer',  v6) AS (rule, n_violations)""".stripMargin))
      .withColumn("status",
        when(col("n_violations") === 0, "pass").otherwise("fail"))
  }

  val pExpectationsSql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n_rows,
      |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v2,
      |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v3,
      |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v4,
      |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
      |                   OR o_orderdate >= TIMESTAMP '2030-01-01'
      |             THEN 1 ELSE 0 END) AS BIGINT) AS v5
      |  FROM orders),
      |b AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS v6
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_custkey IS NULL),
      |s AS (
      |  SELECT 'not_null:o_orderkey' AS rule, n_rows, v1 AS n_violations FROM a
      |  UNION ALL SELECT 'unique:o_orderkey', n_rows, v2 FROM a
      |  UNION ALL SELECT 'domain:o_orderstatus', n_rows, v3 FROM a
      |  UNION ALL SELECT 'positive:o_totalprice', n_rows, v4 FROM a
      |  UNION ALL SELECT 'range:o_orderdate', n_rows, v5 FROM a
      |  UNION ALL SELECT 'ref:o_custkey->customer', n_rows, v6 FROM a, b)
      |SELECT rule, n_rows, n_violations,
      |  CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
      |FROM s""".stripMargin

  /** B20: time travel + change-data-feed over the generational state
    * layout — the Delta/Iceberg version-read story on plain parquet.
    * The streaming upsert's generation directories (st_upsert's
    * bucket-pruned merge, one gen per microbatch) are version
    * addresses; this operator builds the 3-batch state through the
    * EXACT same production step (Streaming.upsertBatch over the
    * mtime-ordered backlog) and then reads two versions AS OF their
    * generation — v1 (after batch 0) and v3 (final) — joining them
    * into the per-key change feed: `insert` (key born after v1),
    * `update` (latest event changed), `unchanged`. At 100 TB both
    * version reads are partition-pruned by the same bucket layout, and
    * the diff is one full-outer join on the key — no log replay, no
    * state reconstruction. The oracle re-derives both versions from the
    * event residue slices the backlog files contain (batch 0 = even
    * event ids — the lateFixtureDir contract).
    */
  private[graft] def ensureTimeTravelState(s: SparkSession, d: String): String = {
    import graft.streaming.Streaming
    val fixture = Streaming.lateFixtureDir(s, d)
    val base = s"/tmp/graft_time_travel_${graft.Stage.sourceFingerprint(d, "events")}"
    // build-once gate through the seam: gen3 may exist only as a
    // pointer commit, and an unmarked dir (pre-marker build) rebuilds
    if (!graft.Stage.published(new java.io.File(s"$base/gen3"),
        graft.streaming.Streaming.GenMarker)) {
      graft.Stage.deleteRecursively(new java.io.File(base))
      new java.io.File(base).mkdirs()
      val files = new java.io.File(fixture).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        Streaming.upsertBatch(s.read.parquet(f.getPath), base, i)
      }
      graft.Stage.refreshArtifact(s, new java.io.File(base))
    }
    base
  }

  def pTimeTravel(s: SparkSession, d: String): DataFrame = {
    val base = ensureTimeTravelState(s, d)
    def version(g: Int) = s.read.parquet(
        graft.Stage.resolved(new java.io.File(s"$base/gen$g")).getPath)
      .select(col("user_id"), col("event_id"), col("us"))
    val v1 = version(1).select(col("user_id"),
      col("event_id").as("event_id_v1"), col("us").as("us_v1"))
    val v3 = version(3).select(col("user_id"),
      col("event_id").as("event_id_v3"), col("us").as("us_v3"))
    v1.join(v3, Seq("user_id"), "full_outer")
      .withColumn("change",
        when(col("event_id_v1").isNull, "insert")
          .when(col("event_id_v1") === col("event_id_v3"), "unchanged")
          .otherwise("update"))
      .select("user_id", "change", "event_id_v1", "event_id_v3", "us_v3")
  }

  /** B28b: SQL time travel through a DSv2 TableCatalog — the same two
    * AS-OF reads as p_time_travel, but addressed with the STANDARD SQL
    * syntax: [[graft.catalog.GenCatalog]] exposes every generational
    * layout under `gen.<name>` and Catalyst resolves `VERSION AS OF g`
    * through TableCatalog.loadTable(ident, version) into the builtin
    * parquet DSv2 table — versioned scans keep every pushdown/pruning
    * path of a plain parquet read (the plan self-check pins that the
    * scan reads generation directories, never the fact table). The
    * reference addresses history by constructing dated S3 prefixes in
    * driver code; Spark-first, history is a catalog concern.
    */
  def pTimeTravelSqlSyntax(s: SparkSession, d: String): DataFrame = {
    val base = ensureTimeTravelState(s, d)
    val name = new java.io.File(base).getName
    // registered for good, not scoped: the returned lazy frame must
    // still find the catalog when it is planned and run
    s.conf.set("spark.sql.catalog.gen", classOf[graft.catalog.GenCatalog].getName)
    s.conf.set("spark.sql.catalog.gen.root", new java.io.File(base).getParent)
    val df = s.sql(
      s"""WITH v1 AS (SELECT user_id, event_id AS event_id_v1, us AS us_v1
         |            FROM gen.`$name` VERSION AS OF 1),
         |     v3 AS (SELECT user_id, event_id AS event_id_v3, us AS us_v3
         |            FROM gen.`$name` VERSION AS OF 3)
         |SELECT COALESCE(v1.user_id, v3.user_id) AS user_id,
         |  CASE WHEN v1.event_id_v1 IS NULL THEN 'insert'
         |       WHEN v1.event_id_v1 = v3.event_id_v3 THEN 'unchanged'
         |       ELSE 'update' END AS change,
         |  v1.event_id_v1, v3.event_id_v3, v3.us_v3
         |FROM v1 FULL OUTER JOIN v3 ON v1.user_id = v3.user_id""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("gen1") && plan.contains("gen3"),
      s"versioned scans missing from the plan:\n$plan")
    require(!plan.contains("events.parquet"),
      s"time travel fell back to the fact table:\n$plan")
    df
  }

  val pTimeTravelSql: String =
    """WITH v1 AS (
      |  SELECT user_id, event_id AS event_id_v1, us AS us_v1 FROM (
      |    SELECT user_id, event_id, epoch_us(ts) AS us,
      |      ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |    FROM events WHERE event_id % 2 = 0)
      |  WHERE rn = 1),
      |v3 AS (
      |  SELECT user_id, event_id AS event_id_v3, us AS us_v3 FROM (
      |    SELECT user_id, event_id, epoch_us(ts) AS us,
      |      ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |    FROM events)
      |  WHERE rn = 1)
      |SELECT COALESCE(v1.user_id, v3.user_id) AS user_id,
      |  CASE WHEN v1.event_id_v1 IS NULL THEN 'insert'
      |       WHEN v1.event_id_v1 = v3.event_id_v3 THEN 'unchanged'
      |       ELSE 'update' END AS change,
      |  event_id_v1, event_id_v3, us_v3
      |FROM v1 FULL OUTER JOIN v3 ON v1.user_id = v3.user_id""".stripMargin

  /** B27: RESTORE — version rollback with Delta's semantics: restoring
    * to version 1 does NOT rewrite history, it publishes a NEW
    * generation whose content is version 1 (hard-linked — zero data
    * bytes move; the restore commit is a name graph over the old
    * inodes). gen3 stays intact underneath, so the restore is itself
    * time-travelable and vacuumable like any other generation. The
    * gate query reads the restored generation's latest-per-user state,
    * which must equal the version-1 oracle (latest among even
    * event_ids — batch 0's slice); the spec pins the zero-copy (shared
    * file keys with gen1) and history preservation (gen3 untouched).
    */
  def pRestore(s: SparkSession, d: String): DataFrame = {
    val base = ensureTimeTravelState(s, d)
    // restore target = NEWEST generation + 1 — never a hardcoded slot
    // (a grown backlog would otherwise see its real newest generation
    // silently replaced with v1 links)
    // generation discovery and marker checks go through the
    // filesystem seam: a pointer-published restore commit is listed
    // by its logical name and resolved to its physical tree
    val gens = graft.Stage.logicalNames(new java.io.File(base))
      .filter(_.matches("gen\\d+"))
      .map(_.stripPrefix("gen").toInt)
    val restoredGen = gens.filter(g =>
      graft.Stage.published(new java.io.File(s"$base/gen$g"), "_RESTORED"))
      .sorted.lastOption
    val restored = restoredGen match {
      case Some(g) => new java.io.File(s"$base/gen$g")
      case None =>
        val next = new java.io.File(s"$base/gen${gens.max + 1}")
        // seam-provided staging name: unique under the object-store
        // impl, so a raced restore can never delete the winner's
        // pointer-committed generation
        val tmp = graft.Stage.stagingDir(next, "build")
        graft.Stage.linkTree(
          graft.Stage.resolved(new java.io.File(s"$base/gen1")), tmp)
        // marker inside tmp: the publish (rename or pointer commit)
        // makes data+marker visible in one atomic step
        new java.io.File(tmp, "_RESTORED").createNewFile()
        graft.Stage.publishDir(tmp, next, "_RESTORED")
        graft.Stage.refreshArtifact(s, graft.Stage.resolved(next))
        next
    }
    s.read.parquet(graft.Stage.resolved(restored).getPath)
      .select(col("user_id"), col("event_id"), col("us"))
      .orderBy("user_id")
  }

  val pRestoreSql: String =
    """SELECT user_id, event_id, us FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events WHERE event_id % 2 = 0)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** B21: generation vacuum — the retention step that keeps the
    * generational state layouts (st_upsert / st_scd2 / p_time_travel)
    * from accumulating one directory per microbatch forever: drop all
    * but the newest K generations. This is SAFE BY CONSTRUCTION with
    * hard-linked carry-over: an untouched bucket file carried across
    * generations is the SAME inode, so unlinking a superseded
    * generation's entry only drops the link count — the kept
    * generation's bytes survive (the spec pins this: carried files
    * keep their file keys through the vacuum). The registered query
    * proves end-to-end integrity: a fresh 3-generation state is built
    * through the real upsertBatch path, everything but the newest
    * generation is vacuumed, and the survivors still hash-match the
    * latest-per-key oracle.
    */
  def pVacuum(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.Streaming
    val fixture = Streaming.lateFixtureDir(s, d)
    val base = s"/tmp/graft_vacuum_${graft.Stage.sourceFingerprint(d, "events")}"
    graft.Stage.deleteRecursively(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val files = new java.io.File(fixture).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    files.zipWithIndex.foreach { case (f, i) =>
      Streaming.upsertBatch(s.read.parquet(f.getPath), base, i)
    }
    // crash debris under the unique-staging-name discipline: a staging
    // tree whose build never committed (the process died before
    // publish). Vacuum's second job is sweeping these — anything
    // staged BEFORE the newest live commit can no longer be an
    // in-flight build of the next generation, while a newer staging
    // tree might be one and must survive the sweep.
    val newest = new java.io.File(s"$base/gen${files.length}")
    // physical home (pointer-dereferenced under the object-store
    // seams) — the logical name has no mtime there
    val newestPhys = graft.Stage.resolved(newest)
    val orphan = graft.Stage.stagingDir(newest, "build")
    orphan.mkdirs()
    // a crashed build leaves PARTIAL DATA FILES, never a bare dir — and
    // on an object store the tree IS its objects (an empty prefix does
    // not exist, and implicit dirs have no mtime: the object-store seams
    // derive tree age from the newest object), so the fixture must carry one
    val partial = new java.io.File(orphan, "part-00000.parquet")
    java.nio.file.Files.write(partial.toPath, Array[Byte](0x50, 0x41, 0x52))
    partial.setLastModified(newestPhys.lastModified - 3600000L)
    orphan.setLastModified(newestPhys.lastModified - 3600000L)
    val inflight = graft.Stage.stagingDir(
      new java.io.File(s"$base/gen${files.length + 1}"), "build")
    inflight.mkdirs()
    val removed = Streaming.vacuumGenerations(base, keep = 1)
    require(removed.nonEmpty, "vacuum should have removed superseded generations")
    require(graft.Stage.published(newest, Streaming.GenMarker),
      "vacuum must keep the newest generation")
    val swept = graft.Stage.gcStagingDebris(
      new java.io.File(base), newestPhys.lastModified)
    require(swept.contains(orphan.getName) && !orphan.exists(),
      s"orphaned staging tree survived the sweep: $swept")
    require(inflight.exists(),
      "a staging tree newer than the live commit must survive (may be in-flight)")
    graft.Stage.deleteRecursively(inflight)
    s.read.parquet(newestPhys.getPath)
      .select(col("user_id"), col("event_id").as("last_event_id"), col("us"))
  }

  val pVacuumSql: String = graft.streaming.Streaming.stUpsertSql

  /** B22: dataset diff — the regression-detection primitive a pipeline
    * runs between two versions of a table (yesterday's publish vs
    * today's rebuild): one FULL OUTER join on the key classifies every
    * row as added / removed / changed / unchanged, where "changed" is
    * a null-safe comparison of the STRUCT of all non-key columns (no
    * hashing — exact, generic over any schema, and oracle-expressible).
    * One shuffle on the key; the per-class accounting (count + key
    * checksum) puts every classification under the hash gate. The v2
    * fixture derives deterministic edits from orders: keys ≡ 0 (mod
    * 97) dropped, totalprice +1 for keys ≡ 0 (mod 89), keys ≡ 0 (mod
    * 83) re-inserted shifted +10M (adds).
    */
  def pTableDiff(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val v2 = o.filter(!(col("o_orderkey") % 97 === 0))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 89 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      .unionByName(o.filter(col("o_orderkey") % 83 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    graft.pipeline.Diff.tableDiff(o, v2, Seq("o_orderkey"))
      .groupBy("change")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"))
  }

  val pTableDiffSql: String =
    """WITH v1 AS (SELECT * FROM orders),
      |v2 AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
      |    o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 83 = 0),
      |j AS (
      |  SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
      |    CASE
      |      WHEN v1.o_orderkey IS NULL THEN 'added'
      |      WHEN v2.o_orderkey IS NULL THEN 'removed'
      |      WHEN v1.o_custkey IS NOT DISTINCT FROM v2.o_custkey
      |       AND v1.o_orderstatus IS NOT DISTINCT FROM v2.o_orderstatus
      |       AND v1.o_totalprice IS NOT DISTINCT FROM v2.o_totalprice
      |       AND v1.o_orderdate IS NOT DISTINCT FROM v2.o_orderdate
      |       AND v1.o_orderpriority IS NOT DISTINCT FROM v2.o_orderpriority
      |      THEN 'unchanged' ELSE 'changed' END AS change
      |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
      |SELECT change, COUNT(*) AS n_rows,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      |FROM j GROUP BY 1""".stripMargin

  /** B28: VARIANT-typed semi-structured access (Spark 4's binary
    * semi-structured type — the modern engine answer to repeated
    * get_json_object calls): `parse_json` decodes each envelope line
    * ONCE into the self-describing binary encoding, and every
    * `variant_get` afterwards is a tree walk, not a re-parse — at
    * 100 TB the difference between one JSON parse per row and one per
    * EXTRACTED FIELD per row, and the layout that makes shredded
    * columnar storage possible. The query extracts a typed id and the
    * lm timestamp, plus the two NULL-semantics legs: a present path
    * cast to an impossible type (`try_variant_get` → NULL, never an
    * error) and an absent path (`variant_get` → NULL); the oracle
    * reconstructs everything from `documents` and pins both NULL legs
    * at count 0.
    */
  def qVariant(s: SparkSession, d: String): DataFrame =
    Envelope.synthesizeCached(s, d)
      .select(parse_json(col("value")).as("v"))
      .select(
        variant_get(col("v"), "$.message._id.id", "string")
          .cast("long").as("id"),
        variant_get(col("v"), "$.message._lastModifiedDateTime", "string")
          .as("lm"),
        // _id is an OBJECT — casting it to bigint must yield NULL, not
        // an error (the try_ contract)
        try_variant_get(col("v"), "$.message._id", "bigint").as("wrong"),
        variant_get(col("v"), "$.message.no_such_field", "string").as("absent"))
      .groupBy((col("id") % 7).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(col("id")).as("id_sum"),
        min(col("lm")).as("lm_min"), max(col("lm")).as("lm_max"),
        count(col("wrong")).as("n_wrong"),
        count(col("absent")).as("n_absent"))
      .orderBy("g")

  val qVariantSql: String =
    s"""SELECT doc_id % 7 AS g, COUNT(*) AS n,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  MIN($OracleLmIncoming) AS lm_min,
       |  MAX($OracleLmIncoming) AS lm_max,
       |  CAST(0 AS BIGINT) AS n_wrong, CAST(0 AS BIGINT) AS n_absent
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** B29: VARIANT STORAGE — the ingest-side half of the variant story:
    * envelopes are parsed ONCE at write time and persisted as a true
    * VariantType parquet column (a fingerprinted write-once artifact
    * through the filesystem seam), and the registered query answers
    * from the STORED binary — no JSON text is ever re-parsed on the
    * read path (the plan has variant_gets but zero parse_json,
    * plan-spec pinned). At 100 TB this moves the corpus's entire parse
    * cost from every-query to once-at-ingest, and the binary encoding
    * is the substrate engines shred into columnar storage.
    */
  def qVariantStore(s: SparkSession, d: String): DataFrame = {
    val base = new java.io.File(
      s"/tmp/graft_varstore_${graft.Stage.sourceFingerprint(d, "documents")}")
    val phys = graft.Stage.ensureArtifact(s, base) { tmp =>
      Envelope.synthesizeCached(s, d)
        .select(parse_json(col("value")).as("v"))
        .write.parquet(tmp.getPath)
    }
    s.read.parquet(phys.getPath)
      .select(
        variant_get(col("v"), "$.message._id.id", "string")
          .cast("long").as("id"),
        variant_get(col("v"), "$.message.collection", "string").as("collection"))
      .groupBy("collection")
      .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"),
        min(col("id")).as("id_min"), max(col("id")).as("id_max"))
  }

  val qVariantStoreSql: String =
    """SELECT 'documents' AS collection, COUNT(*) AS n,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  CAST(MIN(doc_id) AS BIGINT) AS id_min,
      |  CAST(MAX(doc_id) AS BIGINT) AS id_max
      |FROM documents GROUP BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_variant", qVariant, Some(qVariantSql)),
    QueryDef("q_variant_store", qVariantStore, Some(qVariantStoreSql)),
    QueryDef("p_profile", pProfile, Some(pProfileSql)),
    QueryDef("q_drift_psi", qDriftPsi, Some(qDriftPsiSql)),
    QueryDef("p_subject_export", pSubjectExport, Some(pSubjectExportSql)),
    QueryDef("p_kanon", pKanon, Some(pKanonSql)),
    QueryDef("p_retention_sweep", pRetentionSweep, Some(pRetentionSweepSql)),
    QueryDef("p_kanon_apply", pKanonApply, Some(pKanonApplySql)),
    QueryDef("p_table_diff", pTableDiff, Some(pTableDiffSql)),
    QueryDef("p_vacuum", pVacuum, Some(pVacuumSql)),
    QueryDef("p_time_travel", pTimeTravel, Some(pTimeTravelSql)),
    QueryDef("p_time_travel_sql", pTimeTravelSqlSyntax, Some(pTimeTravelSql)),
    QueryDef("p_restore", pRestore, Some(pRestoreSql)),
    QueryDef("p_expectations", pExpectations, Some(pExpectationsSql)),
    QueryDef("p_cdc_apply", pCdcApply, Some(pCdcApplySql)),
    QueryDef("p_envelope_parse", pEnvelopeParse, Some(pEnvelopeParseSql)),
    QueryDef("p_dead_letter", pDeadLetter, Some(pDeadLetterSql)),
    QueryDef("p_incremental_agg", pIncrementalAgg, Some(pIncrementalAggSql)),
    QueryDef("p_decrypt", pDecrypt, Some(pDecryptSql)),
    QueryDef("p_key_rotate", pKeyRotate, Some(pKeyRotateSql)),
    QueryDef("p_crypto_shred", pCryptoShred, Some(pCryptoShredSql)),
    QueryDef("p_validate_wrap", pValidateWrap, Some(pValidateWrapSql)),
    QueryDef("p_sanitise", pSanitise, Some(pSanitiseSql)),
    QueryDef("p_transform_audit", pTransformAudit, Some(pTransformAuditSql)),
    QueryDef("p_latest_by_key", pLatestByKey, Some(pLatestByKeySql)),
    QueryDef("p_daily_increment", pDailyIncrement, Some(pDailyIncrementSql)),
    QueryDef("p_merge_snapshot", pMergeSnapshot, Some(pMergeSnapshotSql)),
    QueryDef("p_json_extract", pJsonExtract, Some(pJsonExtractSql)),
    // identical oracle BY DESIGN: the variant store must be
    // indistinguishable from the per-row-parse path under the hash gate
    QueryDef("p_json_extract_variant", pJsonExtractVariant, Some(pJsonExtractSql)),
    QueryDef("p_delete_flag", pDeleteFlag, Some(pDeleteFlagSql)),
  )
}
