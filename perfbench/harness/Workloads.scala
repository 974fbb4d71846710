package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.pipeline.{Envelope, InMemoryStatusStore, Ingest, KeyService, Runner, StatusStore}

/** Status store that counts transitions into the trace. */
final class CountingStatusStore(t: Tracer) extends StatusStore {
  private val inner = new InMemoryStatusStore
  private def counted(): Unit = t.count("pipeline.Orchestration.status_transitions", 1)
  override def getStatus(c: String, d: String): Option[String] = inner.getStatus(c, d)
  override def updateStatus(c: String, d: String, status: String, date: String,
      extra: Map[String, String]): Unit = { counted(); inner.updateStatus(c, d, status, date, extra) }
  override def compareAndSetStatus(c: String, d: String, expected: Option[String], status: String,
      date: String, extra: Map[String, String]): Boolean = {
    val ok = inner.compareAndSetStatus(c, d, expected, status, date, extra)
    if (ok) counted()
    ok
  }
  override def getExtras(c: String, d: String): Map[String, String] = inner.getExtras(c, d)
  override def scanByStatus(status: String): Seq[StatusStore.ScanRow] = inner.scanByStatus(status)
}

object Ops {
  /** Runs one operation; a throw is a failed operation, not a crash. */
  def op(name: String)(body: => Long): Op = {
    val t0 = System.nanoTime()
    try {
      val rows = body
      Op(name, (System.nanoTime() - t0) / 1e9, ok = true, rows)
    } catch {
      case e: Throwable =>
        Op(name, (System.nanoTime() - t0) / 1e9, ok = false, -1,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** 60-bit order-independent digest term, matching the generator's. */
  def digest(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast(DecimalType(38, 0))
}

/** `cdi_daily`: the CDI job as a job. Each pass starts from an empty output
  * root with a fresh status store and key service and calls
  * `Runner.runRange` per collection and export date, so every date runs
  * ingest → writeDaily → update → exportToHive. A traced pass makes the
  * same calls as runRange's loop itself, with a span around each.
  */
final class CdiDaily(ctx: Ctx) extends Workload {
  import Ops._
  private val truth: JsonNode = new ObjectMapper().readTree(new File(s"${ctx.input}/truth.json"))
  private val collections: Seq[(String, String)] = truth.get("collections").elements().asScala
    .map(c => (c.get("db").asText, c.get("collection").asText)).toSeq
  private val dates: Seq[String] = truth.get("collections").get(0).get("dates").elements().asScala
    .map(_.get("export_date").asText).toSeq
  private val keyMap: Map[String, String] = truth.get("keys").properties().asScala
    .map(e => e.getKey -> e.getValue.asText).toMap
  /** Per collection, the ids ingested on several dates (no defined winner
    * among their records, so their `val` is not checked). */
  private val multiIds: Map[String, Seq[String]] = truth.get("collections").elements().asScala
    .map(c => c.get("collection").asText -> c.get("multi_ids").elements().asScala.map(_.asText).toSeq)
    .toMap
  private val inRoot = s"${ctx.input}/input"
  private def outRoot = s"${ctx.work}/cdi_out"
  private def outOf(db: String, coll: String) = s"$outRoot/$db/$coll"
  private def table(db: String, coll: String) = s"${db}_staging.src_${coll.toLowerCase}"

  val records: Long = truth.get("collections").elements().asScala.flatMap(_.get("dates").elements().asScala)
    .map(d => d.get("valid").asLong + d.get("malformed").asLong).sum

  private def keyService = new KeyService(k =>
    keyMap.getOrElse(k, throw new NoSuchElementException(s"no data key for $k")))

  /** Empty output root and staging-table directories: a session the pass
    * did not create the tables in cannot drop them, and saveAsTable refuses
    * to write over an existing directory.
    */
  override def prepare(c: Ctx): Unit = {
    graft.Stage.deleteRecursively(new File(outRoot))
    collections.foreach { case (db, _) =>
      graft.Stage.deleteRecursively(new File(s"${c.work}/warehouse/${db}_staging.db"))
    }
  }

  /** `f` over `xs`, one driver thread per element; results in order. */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(xs.size)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** Collections run concurrently, one driver thread each, as the
    * program's own `Main.run` runs them; dates stay sequential within a
    * collection because later dates read earlier state.
    */
  def pass(c: Ctx, warm: Boolean, keep: Boolean): Seq[Op] = {
    val status = new CountingStatusStore(c.tracer)
    inParallel(collections) { case (db, coll) =>
      val keys = keyService
      val runner = new Runner(c.spark, status, keys, forceCollectionUpdate = true)
      dates.map { date =>
        op(s"$db:$coll:$date") {
          if (c.tracer.enabled) tracedDate(c, runner, status, keys, db, coll, date)
          else runner.runRange(inRoot, date, date, db, coll, outOf(db, coll))
          -1L
        }
      }
    }.flatten
  }

  /** runRange's loop body for one date, with a span around each call. */
  private def tracedDate(c: Ctx, runner: Runner, status: StatusStore, keys: KeyService,
      db: String, coll: String, date: String): Unit = {
    val t = c.tracer
    val spark = c.spark
    val product = s"CDI-$db:$coll"
    val out = outOf(db, coll)
    t.span(spark, "pipeline.Orchestration", s"runDate $db:$coll $date") {
      val cur = status.getStatus("local", product)
      if (!status.compareAndSetStatus("local", product, cur, StatusStore.InProgress, date))
        throw new IllegalStateException(s"$product is IN_PROGRESS")
      val lines = spark.read.text(runner.sourcePrefix(inRoot, date, db, coll))
      val parsed = t.span(spark, "pipeline.Envelope", "parse") { Envelope.parse(lines) }
      val withKeys = t.span(spark, "pipeline.KeyService", "withDataKeys") {
        keys.withDataKeys(parsed.filter(!col("malformed")).drop("malformed", "value"))
      }
      t.count("pipeline.KeyService.keys_resolved", keys.lastResolvedCount)
      t.count("pipeline.KeyService.calls", 1)
      val daily = t.span(spark, "pipeline.Ingest", "process") {
        Ingest.dailyIncrement(Ingest.process(Ingest.decrypt(withKeys)), date)
      }
      t.span(spark, "pipeline.Ingest", "writeDaily") { Ingest.writeDaily(daily, out) }
      t.span(spark, "pipeline.Snapshot", "update") { runner.update(out, date, db, coll) }
      t.span(spark, "pipeline.Orchestration", "exportToHive") { runner.exportToHive(out, date, db, coll) }
      status.updateStatus("local", product, StatusStore.Completed, date)
    }
  }

  /** Daily rows per export date (yyyy-MM-dd) under one collection's root. */
  private def dailyRowsByDate(c: Ctx, out: String): Map[String, Long] =
    c.spark.read.parquet(out)
      .groupBy("export_year", "export_month", "export_day").count().collect()
      .map(r => f"${r.getInt(0)}%04d-${r.getInt(1)}%02d-${r.getInt(2)}%02d" -> r.getLong(3)).toMap

  /** Snapshot, staging table and dailies of the last pass, reduced to the
    * counts and digests the checker compares with the generator's truth,
    * in one job per collection. The token digest reads each record's
    * `checkToken` back out of `val`, for the ids ingested once. Malformed
    * lines are counted on the first pass only (inputs do not change
    * between passes).
    */
  override def summary(c: Ctx, first: Boolean): Map[String, Any] = {
    val spark = c.spark
    val runner = new Runner(spark, new InMemoryStatusStore)
    def dec(v: java.math.BigDecimal) = Option(v).fold("0")(_.toBigInteger.toString)
    val cols = inParallel(collections) { case (db, coll) =>
      val out = outOf(db, coll)
      val fields = Seq(col("id"), col("db_type"), col("val"))
      val dailies = spark.read.parquet(out).select(format_string("daily %04d-%02d-%02d",
        col("export_year"), col("export_month"), col("export_day")).as("where") +: fields: _*)
      val snapshot = spark.read.orc(runner.exportPrefix(out, db, coll, dates.last))
        .select(lit("snapshot").as("where") +: fields: _*)
      val hive = spark.table(table(db, coll)).select(lit("hive").as("where") +: fields: _*)
      val multi = broadcast(spark.createDataset(multiIds(coll))(org.apache.spark.sql.Encoders.STRING)
        .toDF("id").withColumn("multi", lit(true)))
      val isDel = col("db_type") === "DELETE"
      val token = concat(col("id"), lit("\t"), get_json_object(col("val"), "$.checkToken"))
      val by = dailies.unionByName(snapshot).unionByName(hive).join(multi, Seq("id"), "left")
        .groupBy("where").agg(count(lit(1)), sum(when(isDel, 1L).otherwise(0L)),
          sum(digest(concat(col("id"), lit("\t"), col("db_type")))),
          sum(when(isDel, digest(col("id")))),
          // a row whose token is gone counts as a wrong digest, not as skipped
          sum(when(col("multi").isNull, coalesce(digest(token), lit(-1).cast(DecimalType(38, 0))))))
        .collect().map { r =>
          r.getString(0) -> Map("rows" -> r.getLong(1), "deletes" -> r.getLong(2),
            "id_digest" -> dec(r.getDecimal(3)), "delete_digest" -> dec(r.getDecimal(4)),
            "token_digest" -> dec(r.getDecimal(5)))
        }.toMap
      val bad = if (!first) Map.empty[String, Long] else dates.map { d =>
        d -> Ingest.malformedLines(spark.read.text(runner.sourcePrefix(inRoot, d, db, coll))).count()
      }.toMap
      Map("db" -> db, "collection" -> coll,
        "snapshot" -> by.getOrElse("snapshot", Map.empty), "hive" -> by.getOrElse("hive", Map.empty),
        "daily_rows" -> by.collect { case (w, m) if w.startsWith("daily ") => w.drop(6) -> m("rows") },
        "malformed" -> bad)
    }
    val stored = collections.map { case (db, coll) =>
      Harness.treeSize(outOf(db, coll))._1 + Harness.treeSize(
        s"${c.work}/warehouse/${db}_staging.db/src_${coll.toLowerCase}")._1
    }.sum
    Map("collections" -> cols, "stored_bytes" -> stored,
      "input_bytes" -> truth.get("input_bytes").asLong)
  }

  /** Layer probes on the last pass's input and output: cumulative-prefix
    * noop runs of the read path, the direct kernel calls, and the output
    * trees the pass wrote.
    */
  override def layers(c: Ctx): Map[String, Double] = {
    val spark = c.spark
    val keys = keyService
    val runner = new Runner(spark, new InMemoryStatusStore)
    var parse, decrypt, full, lines, bad = 0.0
    for ((db, coll) <- collections; date <- dates) {
      val text = spark.read.text(runner.sourcePrefix(inRoot, date, db, coll))
      val parsed = Envelope.parse(text)
      val good = parsed.filter(!col("malformed")).drop("malformed", "value")
      parse += Harness.timed(noop(parsed))._2
      decrypt += Harness.timed(noop(Ingest.decrypt(keys.withDataKeys(good))))._2
      full += Harness.timed(noop(Ingest.pipeline(text, keys)))._2
      lines += text.count()
      bad += Ingest.malformedLines(text).count()
    }
    val trees = collections.map { case (db, coll) =>
      val out = outOf(db, coll)
      val (dailyBytes, dailyFiles) = dates.map { d =>
        val Array(y, m, dd) = d.split("-").map(_.toInt)
        Harness.treeSize(s"$out/export_year=$y/export_month=$m/export_day=$dd")
      }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
      val dailyRows = spark.read.parquet(out).count()
      val snapRows = dates.map(d => spark.read.orc(runner.exportPrefix(out, db, coll, d)).count())
      val snapBytes = dates.map(d => Harness.treeSize(runner.exportPrefix(out, db, coll, d))._1).sum
      val perDate = dailyRowsByDate(c, out)
      // rows entering each merge: the previous snapshot plus that date's daily
      val rowsIn = (0L +: snapRows.init).zip(dates.map(perDate.getOrElse(_, 0L)))
        .map { case (a, b) => a + b }.sum
      Seq(dailyRows.toDouble, dailyBytes.toDouble, dailyFiles.toDouble, rowsIn.toDouble,
        snapRows.sum.toDouble, snapBytes.toDouble, spark.table(table(db, coll)).count().toDouble)
    }.transpose.map(_.sum)
    Map(
      "pipeline.Envelope.parse_s" -> parse,
      "pipeline.Envelope.records" -> lines,
      "pipeline.Envelope.malformed" -> bad,
      "pipeline.Ingest.process_s" -> (full - decrypt),
      "pipeline.Ingest.rows_written" -> trees(0),
      "pipeline.Ingest.bytes_written" -> trees(1),
      "pipeline.Ingest.files_written" -> trees(2),
      "pipeline.Snapshot.rows_in" -> trees(3),
      "pipeline.Snapshot.rows_out" -> trees(4),
      "pipeline.Snapshot.bytes_written" -> trees(5),
      "pipeline.Orchestration.hive_rows" -> trees(6)) ++ kernels()
  }

  /** µs per record of the UC kernels, called directly on the first export
    * date's records (median of five timed loops after one warm loop).
    */
  private def kernels(): Map[String, Double] = {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{AesCtr, UcJson}
    val om = new ObjectMapper()
    def sample(db: String, coll: String, n: Int): Seq[(UTF8String, UTF8String, UTF8String, String)] = {
      val runner = new Runner(null, new InMemoryStatusStore)
      val dir = new File(runner.sourcePrefix(inRoot, dates.head, db, coll))
      val lines = dir.listFiles().filter(_.getName.endsWith(".gz")).sortBy(_.getName).toSeq.flatMap { f =>
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f)), "UTF-8"))
        try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector finally in.close()
      }
      lines.flatMap { l =>
        scala.util.Try(om.readTree(l).get("message")).toOption.filter(m => m != null && m.has("dbObject"))
          .map { m =>
            val e = m.get("encryption")
            (UTF8String.fromString(m.get("dbObject").asText),
              UTF8String.fromString(keyMap(e.get("encryptedEncryptionKey").asText)),
              UTF8String.fromString(e.get("initialisationVector").asText),
              m.get("_lastModifiedDateTime").asText)
          }
      }.take(n)
    }
    def perRecordUs[A](xs: Seq[A])(f: A => Any): Double = {
      xs.foreach(f)
      median((1 to 5).map { _ => Harness.timed(xs.foreach(f))._2 * 1e6 / xs.size })
    }
    val main = sample(collections.head._1, collections.head._2, 1000)
    val audit = sample(collections.last._1, collections.last._2, 200)
    val plain = main.map { case (ct, k, iv, _) => AesCtr.decryptB64(ct, k, iv).toString }
    val validated = plain.map(p => UcJson.validate(p)._1)
    val sanitised = validated.map(UcJson.sanitise)
    val auditPlain = audit.map { case (ct, k, iv, lm) => (AesCtr.decryptB64(ct, k, iv).toString, lm) }
    Map(
      "functions.AesCtr.decrypt_us" -> perRecordUs(main) { case (ct, k, iv, _) => AesCtr.decryptB64(ct, k, iv) },
      "functions.UcJson.validate_us" -> perRecordUs(plain)(UcJson.validate),
      "functions.UcJson.sanitise_us" -> perRecordUs(validated)(UcJson.sanitise),
      "functions.UcJson.canonicalize_us" -> perRecordUs(sanitised)(UcJson.canonicalize),
      "functions.UcJson.transform_audit_us" -> perRecordUs(auditPlain) { case (p, lm) =>
        UcJson.transformAudit(p, lm) })
  }
}

/** A fixed list of registered queries, run in a seed-shuffled order and
  * written through the noop sink. The warm-up pass of the first set-up
  * writes each result as parquet for the DuckDB oracle instead.
  */
final class QueryWorkload(ctx: Ctx, names: Seq[String]) extends Workload {
  import Ops._
  private val order = new scala.util.Random(ctx.seed).shuffle(names)
  val records: Long = new ObjectMapper().readTree(new File(s"${ctx.input}/tables.json"))
    .get("rows").elements().asScala.map(_.asLong).sum

  def pass(c: Ctx, warm: Boolean, keep: Boolean): Seq[Op] = {
    val watch = if (c.tracer.enabled) Some(new TmpWatch) else None
    val ops = order.map { n =>
      c.spark.catalog.clearCache()
      c.tracer.span(c.spark, QueryWorkload.layerOf(n), n) {
        op(n) {
          val df = graft.SparkEntry.queries(n)(c.spark, c.input)
          if (keep) {
            val out = s"${c.out}/queries/$n"
            df.write.mode("overwrite").parquet(out)
            c.spark.read.parquet(out).count()
          } else {
            val obs = Observation()
            noop(df.observe(obs, count(lit(1)).as("rows")))
            obs.get("rows").asInstanceOf[Long]
          }
        }
      }
    }
    watch.foreach(w => c.tracer.add(0L, "multimodal.Multimodal.tmp_files_created", w.stop().toDouble))
    if (keep) Json.write(s"${c.out}/queries/oracle_sql.json",
      graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
    ops
  }
}

object QueryWorkload {
  /** graft module of a registered query, by its name's family prefix. */
  def layerOf(name: String): String =
    if (name.startsWith("q")) "queries"
    else if (name.startsWith("d_")) "operators.Dedup"
    else if (name.startsWith("t_")) "operators.Text"
    else if (name.startsWith("s_")) "operators.Ann"
    else if (name.startsWith("m_")) "multimodal.Multimodal"
    else if (name.startsWith("st_")) "streaming"
    else "other"

  def analytics(ctx: Ctx) = new QueryWorkload(ctx, Seq(
    "q1_agg", "q3_join_topk", "q5_multijoin", "q_window", "q_rollup", "q_funnel", "q_gini",
    "q_cbo_reorder"))

  def llmCorpus(ctx: Ctx) = new QueryWorkload(ctx, Seq(
    "d_minhash_lsh", "d_simhash", "t_repetition", "t_tfidf", "m_intensity_hist"))

  def streamUpsert(ctx: Ctx) = new QueryWorkload(ctx, Seq("st_ingest", "st_upsert", "st_scd2"))
}

/** Counts files created in `java.io.tmpdir` while it runs. */
final class TmpWatch {
  private val dir = Paths.get(System.getProperty("java.io.tmpdir"))
  private val ws = dir.getFileSystem.newWatchService()
  dir.register(ws, java.nio.file.StandardWatchEventKinds.ENTRY_CREATE)
  @volatile private var created = 0L
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val key = ws.poll(20, java.util.concurrent.TimeUnit.MILLISECONDS)
      if (key != null) {
        key.pollEvents().asScala.foreach { e =>
          if (e.kind == java.nio.file.StandardWatchEventKinds.ENTRY_CREATE) created += 1
        }
        key.reset()
      }
    }
  })
  thread.setDaemon(true)
  thread.start()

  def stop(): Long = {
    Thread.sleep(50)
    running = false
    thread.join()
    ws.close()
    created
  }
}
