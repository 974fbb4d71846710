package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.pipeline._

/** Driver-loop, status-store and audit-publication specs (reference:
  * corporate_data_ingestion.py:80-117, dynamodb.py, hive.py,
  * ingesters.py:140-205).
  */
class OrchestrationSpec extends SparkSpec {

  /** Write envelope fixtures into the corporate_storage layout for the
    * data date PRECEDING each export date.
    */
  private def layoutFixtures(root: String, exportDates: Seq[String],
      db: String = "corp", lines: => DataFrame = Envelope.synthesize(spark, sfDir)): Unit =
    exportDates.foreach { ed =>
      val prev = java.time.LocalDate.parse(ed).minusDays(1)
      val dir = f"$root/${prev.getYear}%04d/${prev.getMonthValue}%02d/${prev.getDayOfMonth}%02d/$db/documents"
      lines.write.mode("overwrite").text(dir)
    }

  private def readExport(prefix: String): DataFrame =
    spark.read.schema(Snapshot.exportSchema).orc(prefix)

  /** Drop `db` and any warehouse directory an earlier JVM left behind:
    * a managed CREATE TABLE refuses a location that already exists.
    */
  private def freshDatabase(db: String): Unit = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val leftover = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$db.db")
    if (leftover.exists()) Stage.deleteRecursively(leftover)
  }

  test("runRange processes each date, tracks IN_PROGRESS→COMPLETED, writes daily layout") {
    val root = Files.createTempDirectory("graft_corp").toString
    val out = Files.createTempDirectory("graft_daily_out").toString
    layoutFixtures(root, Seq("2021-06-15", "2021-06-16"), db = "corp_range")

    val store = new InMemoryStatusStore
    // record the global sink's heartbeats for the run, then restore it
    val beats = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val prev = MetricsSink.global
    MetricsSink.global = new MetricsSink {
      override def counter(n: String, v: Long, t: Map[String, String]): Unit =
        if (n == "pipeline.heartbeat") beats.synchronized { beats += t; () }
      override def gauge(n: String, v: Double, t: Map[String, String]): Unit = ()
      override def timing(n: String, v: Long, t: Map[String, String]): Unit = ()
    }
    try new Runner(spark, store, forceCollectionUpdate = true).runRange(root,
      "2021-06-15", "2021-06-16", "corp_range", "documents", out)
    finally MetricsSink.global = prev

    val dp = "CDI-corp_range:documents"
    assert(store.getStatus("local", dp) === Some(StatusStore.Completed))
    // one heartbeat per COMPLETED date: the metric AlertRules.standard watches
    assert(beats.toSeq === Seq(
      Map("db" -> "corp_range", "collection" -> "documents", "export_date" -> "2021-06-15"),
      Map("db" -> "corp_range", "collection" -> "documents", "export_date" -> "2021-06-16")))
    // per date: the entry CAS, update's extras write, then COMPLETED
    assert(store.history.toSeq === Seq("2021-06-15", "2021-06-16").flatMap(d => Seq(
      (dp, d, StatusStore.InProgress),
      (dp, d, StatusStore.InProgress),
      (dp, d, StatusStore.Completed))))

    // dynamic-partition layout holds both dates
    val back = spark.read.parquet(out)
    val days = back.select("export_day").distinct().collect().map(_.getInt(0)).toSet
    assert(days === Set(15, 16))
    assert(back.count() === Tables.documents(spark, sfDir).count() * 2)

    // update: the extras name the last date's export, which holds one
    // row per id; exportToHive: the staging table is that export
    val extras = store.getExtras("local", dp)
    assert(extras === Map(
      "S3_Prefix_CDI_Export" -> s"$out/_exports/corp_range/documents/2021-06-16",
      "CDI_Export_Date" -> "2021-06-16"))
    val snapshot = readExport(extras("S3_Prefix_CDI_Export"))
    assert(snapshot.count() === Tables.documents(spark, sfDir).count())
    assert(snapshot.select("id_part", "id").distinct().count() === snapshot.count())
    val staging = spark.table("corp_range_staging.src_documents")
      .select(snapshot.columns.map(col): _*)
    assert(staging.exceptAll(snapshot).isEmpty && snapshot.exceptAll(staging).isEmpty)
    spark.sql("DROP DATABASE IF EXISTS corp_range_staging CASCADE")
  }

  test("a failed update keeps the previous export in the status extras, so a rerun recovers") {
    val root = Files.createTempDirectory("graft_corp_wedge").toString
    layoutFixtures(root, Seq("2021-06-15", "2021-06-16"), db = "corp_wedge")
    val dp = "CDI-corp_wedge:documents"
    def run(store: StatusStore, out: String, start: String, end: String): Unit =
      new Runner(spark, store, forceCollectionUpdate = true)
        .runRange(root, start, end, "corp_wedge", "documents", out)

    val cleanOut = Files.createTempDirectory("graft_wedge_clean").toString
    val cleanStore = new InMemoryStatusStore
    run(cleanStore, cleanOut, "2021-06-15", "2021-06-16")
    val clean = readExport(cleanStore.getExtras("local", dp)("S3_Prefix_CDI_Export"))

    val out = Files.createTempDirectory("graft_wedge_out").toString
    val store = new InMemoryStatusStore
    run(store, out, "2021-06-15", "2021-06-15")
    val export15 = s"$out/_exports/corp_wedge/documents/2021-06-15"
    val after15 = Map("S3_Prefix_CDI_Export" -> export15, "CDI_Export_Date" -> "2021-06-15")
    assert(store.getExtras("local", dp) === after15)

    // the 06-15 export vanishes: the 06-16 update fails on reading it
    // and must leave the extras naming the export it could not replace
    val hidden = Files.createTempDirectory("graft_wedge_hidden").resolve("export")
    Files.move(java.nio.file.Paths.get(export15), hidden)
    intercept[Exception] { run(store, out, "2021-06-16", "2021-06-16") }
    assert(store.getStatus("local", dp) === Some(StatusStore.Failed))
    assert(store.getExtras("local", dp) === after15)

    // restored, the rerun succeeds and equals the clean two-date run
    Files.move(hidden, java.nio.file.Paths.get(export15))
    run(store, out, "2021-06-16", "2021-06-16")
    assert(store.getStatus("local", dp) === Some(StatusStore.Completed))
    val extras = store.getExtras("local", dp)
    assert(extras === Map(
      "S3_Prefix_CDI_Export" -> s"$out/_exports/corp_wedge/documents/2021-06-16",
      "CDI_Export_Date" -> "2021-06-16"))
    val rerun = readExport(extras("S3_Prefix_CDI_Export"))
    assert(rerun.exceptAll(clean).isEmpty && clean.exceptAll(rerun).isEmpty)
    spark.sql("DROP DATABASE IF EXISTS corp_wedge_staging CASCADE")
  }

  /** Jobs that list the leaf files under `dir`'s subdirectories: Spark
    * lists a directory with more than 32 subdirectories
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) in a job
    * of its own.
    */
  private def listings(jobs: Seq[String], dir: String): Seq[String] =
    jobs.filter(j => j.startsWith("Listing leaf files") && j.contains(s"$dir/"))

  test("one CDI date with a collection update runs at most six Spark jobs") {
    val root = Files.createTempDirectory("graft_corp_jobs").toString
    val out = Files.createTempDirectory("graft_jobs_out").toString
    layoutFixtures(root, Seq("2021-06-15"), db = "corp_jobs")
    val jobs = JobLog.during(spark) {
      new Runner(spark, new InMemoryStatusStore, forceCollectionUpdate = true).runRange(root,
        "2021-06-15", "2021-06-15", "corp_jobs", "documents", out)
    }.jobs
    // sf0.001 writes 100 id_part directories a day, so the update's read
    // of the new day lists them in a job; the budget is the rest
    val day = listings(jobs, s"$out/export_year=2021/export_month=6/export_day=15")
    assert(day.size <= 1 && jobs.size - day.size <= 6,
      jobs.zipWithIndex.map { case (j, i) => s"  ${i + 1}. $j" }
        .mkString(s"${jobs.size} jobs for one date:\n", "\n", ""))
    assert(spark.table("corp_jobs_staging.src_documents").count() ===
      Tables.documents(spark, sfDir).count())
    spark.sql("DROP DATABASE IF EXISTS corp_jobs_staging CASCADE")
  }

  test("update reads only the days after the previous export") {
    val root = Files.createTempDirectory("graft_corp_days").toString
    val out = Files.createTempDirectory("graft_days_out").toString
    val dates = Seq("2021-06-15", "2021-06-16", "2021-06-17")
    layoutFixtures(root, dates, db = "corp_days")
    val store = new InMemoryStatusStore
    def run(date: String): Unit = new Runner(spark, store, forceCollectionUpdate = true)
      .runRange(root, date, date, "corp_days", "documents", out)
    run(dates(0))
    run(dates(1))
    val jobs = JobLog.during(spark)(run(dates(2))).jobs
    val old = Seq(15, 16).flatMap(d => listings(jobs, s"$out/export_year=2021/export_month=6/export_day=$d"))
    assert(old.isEmpty, jobs.mkString("the update listed days the previous export holds:\n", "\n", ""))

    // the export equals a merge of every daily ever written
    val all = spark.read.schema(Ingest.dailySchema).parquet(out)
      .select(Snapshot.exportSchema.fieldNames.toSeq.map(col): _*)
    val expected = Snapshot.merge(all.limit(0), all, Seq("id_part", "id"),
      when(col("db_type") === "DELETE", 1).otherwise(0))
    val export = readExport(store.getExtras("local", "CDI-corp_days:documents")("S3_Prefix_CDI_Export"))
      .select(expected.columns.toSeq.map(col): _*)
    assert(export.exceptAll(expected).isEmpty && expected.exceptAll(export).isEmpty)
    assert(export.count() === Tables.documents(spark, sfDir).count())

    // a rerun of the last date finds no newer day and keeps the export
    run(dates(2))
    val rerun = readExport(store.getExtras("local", "CDI-corp_days:documents")("S3_Prefix_CDI_Export"))
    assert(rerun.count() === Tables.documents(spark, sfDir).count())
    spark.sql("DROP DATABASE IF EXISTS corp_days_staging CASCADE")
  }

  test("exportToHive ignores a managed directory a previous JVM left behind") {
    // this JVM's catalog has never seen the table, but its managed
    // location holds a stale ORC file, as after a publish from another
    // driver over the same warehouse
    freshDatabase("corp_stale_staging")
    val out = Files.createTempDirectory("graft_stale_out").toString
    val runner = new Runner(spark, new InMemoryStatusStore)
    val export = spark.createDataFrame(Seq(
      ("a1", "INSERT", "{\"v\":1}", "a1"), ("b2", "DELETE", "{\"v\":2}", "b2")))
      .toDF("id", "db_type", "val", "id_part")
    val prefix = runner.exportPrefix(out, "corp_stale", "documents", "2021-06-15")
    Snapshot.writeSnapshot(export, prefix)
    spark.sql("CREATE DATABASE corp_stale_staging")
    val name = TableIdentifier("src_documents", Some("corp_stale_staging"))
    val location = new java.io.File(spark.sessionState.catalog.defaultTablePath(name))
    spark.createDataFrame(Seq(("zz", "INSERT", "{\"stale\":true}", "zz")))
      .toDF("id", "db_type", "val", "id_part").write.orc(location.getPath)
    assert(!spark.catalog.tableExists("corp_stale_staging.src_documents"))

    // published twice: the second publish replaces the first table
    runner.exportToHive(out, "2021-06-15", "corp_stale", "documents")
    runner.exportToHive(out, "2021-06-15", "corp_stale", "documents")
    // the table is EXTERNAL over the export itself, not a copy
    val meta = spark.sessionState.catalog.getTableMetadata(name)
    assert(meta.tableType === CatalogTableType.EXTERNAL)
    assert(meta.location.getPath === prefix)
    def sameRows(a: DataFrame, b: DataFrame) = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val table = spark.table("corp_stale_staging.src_documents").select(export.columns.map(col): _*)
    assert(sameRows(table, export))
    // dropping the table leaves the export, and the stale directory, alone
    spark.sql("DROP TABLE corp_stale_staging.src_documents")
    assert(sameRows(readExport(prefix).select(export.columns.map(col): _*), export))
    assert(location.exists())
    spark.sql("DROP DATABASE IF EXISTS corp_stale_staging CASCADE")
  }

  test("a collection whose id_parts are all digits keeps id_part a string") {
    val root = Files.createTempDirectory("graft_corp_digits").toString
    val out = Files.createTempDirectory("graft_digits_out").toString
    // every envelope id gains the prefix "01", so each id_part is "01",
    // which partition-type inference would read as the int 1
    layoutFixtures(root, Seq("2021-06-15", "2021-06-16"), db = "corp_digits",
      lines = Envelope.synthesize(spark, sfDir).select(regexp_replace(col("value"),
        "\"_id\":\\{\"id\":\"", "\"_id\":{\"id\":\"01").as("value")))
    val store = new InMemoryStatusStore
    new Runner(spark, store, forceCollectionUpdate = true).runRange(root,
      "2021-06-15", "2021-06-16", "corp_digits", "documents", out)

    val snapshot = readExport(
      store.getExtras("local", "CDI-corp_digits:documents")("S3_Prefix_CDI_Export"))
    val staging = spark.table("corp_digits_staging.src_documents")
    Seq("snapshot" -> snapshot, "staging" -> staging).foreach { case (what, df) =>
      assert(df.schema("id_part").dataType === StringType, what)
      assert(df.select("id_part").distinct().collect().map(_.get(0)).toSeq === Seq("01"), what)
      assert(df.count() === Tables.documents(spark, sfDir).count(), what)
    }
    spark.sql("DROP DATABASE IF EXISTS corp_digits_staging CASCADE")
  }

  test("Main CLI path runs a 2-date range end-to-end with reference flag names") {
    val root = Files.createTempDirectory("graft_cli_corp").toString
    val out = Files.createTempDirectory("graft_cli_out").toString
    layoutFixtures(root, Seq("2021-06-15", "2021-06-16"))

    val args = Main.parseArgs(Array(
      "--correlation_id", "cli-spec",
      "--source_s3_prefix", root,
      "--destination_s3_prefix", out,
      "--start_date", "2021-06-15", "--end_date", "2021-06-16",
      "--db", "corp", "--collection", "documents",
      "--force_collection_update",
      "--not_a_flag", "ignored"))
    assert(args.correlationId === "cli-spec")
    assert(args.forceCollectionUpdate)
    assert(!args.forceExportToHive)
    assert(args.unrecognized === Seq("--not_a_flag", "ignored")) // parse_known_args
    assert(Main.collections(args) === Seq(("corp", "documents")))

    val store = new InMemoryStatusStore
    Main.run(spark, args, store)
    assert(store.getStatus("cli-spec", "CDI-corp:documents") === Some(StatusStore.Completed))
    val back = spark.read.parquet(out)
    assert(back.count() === Tables.documents(spark, sfDir).count() * 2)

    // --force_collection_update ran: per-date snapshot exports exist (the
    // _exports tree is hidden from the daily read above), the status
    // extras carry the latest prefix/date, and the staging table holds
    // one merged record per id
    val extras = store.getExtras("cli-spec", "CDI-corp:documents")
    assert(extras("CDI_Export_Date") === "2021-06-16")
    assert(extras("S3_Prefix_CDI_Export") === s"$out/_exports/corp/documents/2021-06-16")
    val export = spark.read.orc(extras("S3_Prefix_CDI_Export"))
    assert(export.count() === Tables.documents(spark, sfDir).count())
    assert(spark.catalog.tableExists("corp_staging.src_documents"))
    assert(spark.table("corp_staging.src_documents").count() ===
      Tables.documents(spark, sfDir).count())
    spark.sql("DROP DATABASE IF EXISTS corp_staging CASCADE")

    // no --db/--collection and no config file → the reference's default
    val defArgs = Main.parseArgs(Array("--source_s3_prefix", root))
    assert(Main.collections(defArgs) === Seq(("calculator", "calculationParts")))

    // argparse parity: --flag=value form, missing value, half a pair
    val eq = Main.parseArgs(Array("--start_date=2021-06-15", "--db=corp"))
    assert(eq.startDate === Some("2021-06-15") && eq.db === Some("corp"))
    intercept[IllegalArgumentException] { Main.parseArgs(Array("--collection")) }
    // argparse: inline value on a store_true flag is an error, and a
    // value-taking flag never consumes a following --flag as its value
    intercept[IllegalArgumentException] {
      Main.parseArgs(Array("--force_collection_update=yes"))
    }
    intercept[IllegalArgumentException] {
      Main.parseArgs(Array("--collection", "--db", "corp"))
    }
    intercept[RuntimeException] {
      Main.collections(Main.parseArgs(Array("--collection", "documents")))
    }

    // config-file collections map (collections_all shape)
    val cfg = Files.createTempFile("graft_cfg", ".json")
    Files.write(cfg,
      """{"collections_all": {
        |  "db.corp.documents": {"db": "corp", "table": "documents"},
        |  "db.corp.events": {"db": "corp", "table": "events"}}}""".stripMargin.getBytes)
    val cfgArgs = Main.parseArgs(Array("--configuration_file", cfg.toString))
    assert(Main.collections(cfgArgs) ===
      Seq(("corp", "documents"), ("corp", "events")))
  }

  test("SqlRunner executes a statement file with interpolation") {
    new SqlRunner(spark).executeWithInterpolation(
      """CREATE DATABASE IF NOT EXISTS sql_file_spec;
        |DROP TABLE IF EXISTS sql_file_spec.t1;
        |CREATE TABLE sql_file_spec.t1 USING PARQUET AS SELECT #{n} AS n;
        |""".stripMargin, Map("#{n}" -> "7"))
    assert(spark.table("sql_file_spec.t1").collect().map(_.getInt(0)).toSeq === Seq(7))
    spark.sql("DROP DATABASE IF EXISTS sql_file_spec CASCADE")
  }

  test("runRange marks FAILED and rethrows when a date's data is missing") {
    val root = Files.createTempDirectory("graft_corp_fail").toString
    val out = Files.createTempDirectory("graft_daily_fail").toString
    layoutFixtures(root, Seq("2021-06-15")) // 16th missing

    val store = new InMemoryStatusStore
    intercept[Exception] {
      new Runner(spark, store).runRange(root, "2021-06-15", "2021-06-16",
        "corp", "documents", out)
    }
    assert(store.history.last === ("CDI-corp:documents", "2021-06-16", StatusStore.Failed))
    assert(store.getStatus("local", "CDI-corp:documents") === Some(StatusStore.Failed))
  }

  test("status store keeps create-then-update semantics with extra fields") {
    val store = new InMemoryStatusStore
    assert(store.getStatus("c", "p") === None)
    store.updateStatus("c", "p", StatusStore.InProgress, "2021-01-01",
      Map("S3_Prefix_CDI_Export" -> "exports/x"))
    store.updateStatus("c", "p", StatusStore.Completed, "2021-01-01")
    val entry = store.rows(("c", "p"))
    assert(entry.status === StatusStore.Completed)
    // extras survive later updates (dynamodb.py AttributeUpdates semantics)
    assert(entry.extra("S3_Prefix_CDI_Export") === "exports/x")
    assert(entry.exportDate === "2021-01-01")
  }

  test("audit publish: external-over-text → INSERT OVERWRITE managed raw → drop") {
    freshDatabase("uc_dw_auditlog_test")
    val daily = Files.createTempDirectory("graft_audit_daily").toString
    val processed = Ingest.pipeline(Envelope.synthesizeAudit(spark, sfDir))
    AuditPublish.writeAuditDaily(processed, daily)

    AuditPublish.publishRaw(spark, "uc_dw_auditlog_test", daily, "2021-06-15")
    val raw = spark.table("uc_dw_auditlog_test.auditlog_raw")
    assert(raw.filter(col("date_str") === "2021-06-15").count() === processed.count())
    // the dated external table was dropped after the copy
    assert(!spark.catalog.tableExists("uc_dw_auditlog_test.auditlog_raw_2021_06_15"))
    // publish is idempotent per partition (INSERT OVERWRITE)
    AuditPublish.publishRaw(spark, "uc_dw_auditlog_test", daily, "2021-06-15")
    assert(spark.table("uc_dw_auditlog_test.auditlog_raw")
      .filter(col("date_str") === "2021-06-15").count() === processed.count())

    // sec/red view-like publication: full columns vs redacted subset
    val ddl = "AUDIT_ID STRING, AUDIT_EVENT STRING, TIME_STAMP STRING, TIME_STAMP_ORIG STRING"
    val secCols = Seq("AUDIT_ID", "AUDIT_EVENT", "TIME_STAMP", "TIME_STAMP_ORIG")
    val redCols = Seq("AUDIT_EVENT", "TIME_STAMP", "TIME_STAMP_ORIG")
    AuditPublish.publishViews(spark, "uc_dw_auditlog_test", "2021-06-15",
      ddl, secCols, redCols)
    val sec = spark.table("uc_dw_auditlog_test.auditlog_sec_v")
    val red = spark.table("uc_dw_auditlog_test.auditlog_red_v")
    assert(sec.columns.toSeq === secCols :+ "date_str")
    assert(red.columns.toSeq === redCols :+ "date_str")
    assert(sec.count() === processed.count())
    assert(red.count() === processed.count())
    // the identifying column is genuinely absent from red, present in sec
    assert(sec.filter(col("AUDIT_ID").isNotNull).count() === processed.count())
    assert(!red.columns.contains("AUDIT_ID"))
    // re-publication overwrites the partition, not duplicates it
    AuditPublish.publishViews(spark, "uc_dw_auditlog_test", "2021-06-15",
      ddl, secCols, redCols)
    assert(spark.table("uc_dw_auditlog_test.auditlog_sec_v").count() === processed.count())
  }

  test("reference Hive DDL dialect (STORED AS ORC + external TEXTFILE + partition DDL) in a Hive-catalog JVM") {
    // catalogImplementation is a per-JVM STATIC conf — the shared spec
    // session is in-memory-catalog, so the Hive dialect runs in a
    // forked JVM against a real Hive catalog (derby metastore in a
    // temp dir); HiveChainMain does the asserting and prints a verdict
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getPath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    jvmArgs.forEach(a => cmd.add(a))
    cmd.add("-cp"); cmd.add(sys.props("java.class.path"))
    cmd.add("graft.pipeline.HiveChainMain"); cmd.add(sfDir)
    val pb = new ProcessBuilder(cmd)
    // derby writes derby.log into user.dir — keep it out of the repo
    val cwd = Files.createTempDirectory("graft_hive_cwd").toFile
    pb.directory(cwd)
    pb.redirectErrorStream(true)
    // output to a FILE, not a pipe read before waitFor: a wedged child
    // keeps its stream open forever and an inline readAllBytes would
    // block past the timeout this guard exists to enforce
    val outFile = new java.io.File(cwd, "hivechain.out")
    pb.redirectOutput(ProcessBuilder.Redirect.to(outFile))
    val p = pb.start()
    val finished = p.waitFor(5, java.util.concurrent.TimeUnit.MINUTES)
    if (!finished) p.destroyForcibly()
    val out = if (outFile.exists())
      new String(Files.readAllBytes(outFile.toPath), "UTF-8") else ""
    assert(finished, s"hive chain JVM timed out:\n${out.takeRight(4000)}")
    assert(p.exitValue() === 0, s"hive chain failed:\n${out.takeRight(4000)}")
    assert(out.contains("HIVECHAIN OK"), s"no verdict in:\n${out.takeRight(4000)}")
    // openx JsonSerDe resolution (SURVEY §2B): the from_json shim
    // published the expanded table row-equal to the chain's other
    // expansion path, and the serde DDL's jar dependency is pinned as
    // a formal descope (ClassNotFound naming exactly the openx class)
    assert(out.contains("openx_ddl=requires-jar")
        || out.contains("openx_ddl=registered"),
      s"openx resolution missing from verdict:\n${out.takeRight(1000)}")
    assert("expanded=(\\d+)".r.findFirstMatchIn(out).exists(_.group(1).toInt > 0),
      s"expanded table empty or unreported:\n${out.takeRight(1000)}")
  }
}
