package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.{InMemoryStatusStore, MetricsSink, Runner, StatusStore}

/** Job entrypoint — the runnable-job surface of the reference
  * (steps/corporate_data_ingestion.py:120-189): the same spark-submit
  * flag names (`--correlation_id --source_s3_prefix
  * --destination_s3_prefix --start_date --end_date --collection --db
  * --concurrency --force_collection_update --force_export_to_hive`),
  * unknown flags warn-and-continue (parse_known_args semantics),
  * missing dates default to today, an optional collections
  * configuration JSON, and the per-collection date-range driver loop
  * with status bookkeeping. Deployment-specific pieces stay behind
  * seams: the session master/config comes from spark-submit, the
  * storage roots are any Hadoop-FS paths, and the status store is the
  * pluggable StatusStore.
  */
object Main {

  final case class Args(
      correlationId: String,
      sourcePrefix: Option[String],
      destinationPrefix: Option[String],
      startDate: Option[String],
      endDate: Option[String],
      collection: Option[String],
      db: Option[String],
      concurrency: Int,
      forceCollectionUpdate: Boolean,
      forceExportToHive: Boolean,
      configurationFile: Option[String],
      unrecognized: Seq[String])

  /** Mirror of get_arguments (corporate_data_ingestion.py:149-178):
    * `--flag value` and `--flag=value` forms, two boolean store_true
    * flags, unrecognized args collected rather than fatal, and a clear
    * error (argparse behavior) when a value-taking flag has no value.
    */
  def parseArgs(argv: Array[String]): Args = {
    var a = Args(java.util.UUID.randomUUID().toString, None, None, None, None,
      None, None, concurrency = 5, forceCollectionUpdate = false,
      forceExportToHive = false, None, Nil)
    var i = 0
    val unknown = Seq.newBuilder[String]
    var inline: Option[String] = None // value after '=' in --flag=value
    def value(flag: String): String = inline.getOrElse {
      i += 1
      // argparse treats a following '--token' as the NEXT flag, not a value
      if (i >= argv.length || argv(i).startsWith("--"))
        throw new IllegalArgumentException(s"argument $flag: expected one argument")
      argv(i)
    }
    // argparse errors on --store_true_flag=value rather than ignoring it
    def storeTrue(flag: String): Boolean = inline match {
      case Some(v) =>
        throw new IllegalArgumentException(s"argument $flag: ignored explicit argument '$v'")
      case None => true
    }
    while (i < argv.length) {
      val (flag, inlineVal) = argv(i).split("=", 2) match {
        case Array(f, v) if f.startsWith("--") => (f, Some(v))
        case _ => (argv(i), None)
      }
      inline = inlineVal
      flag match {
        case "--correlation_id" => a = a.copy(correlationId = value(flag))
        case "--source_s3_prefix" => a = a.copy(sourcePrefix = Some(value(flag)))
        case "--destination_s3_prefix" => a = a.copy(destinationPrefix = Some(value(flag)))
        case "--start_date" => a = a.copy(startDate = Some(value(flag)))
        case "--end_date" => a = a.copy(endDate = Some(value(flag)))
        case "--collection" => a = a.copy(collection = Some(value(flag)))
        case "--db" => a = a.copy(db = Some(value(flag)))
        case "--concurrency" => a = a.copy(concurrency = value(flag).toInt)
        case "--force_collection_update" =>
          a = a.copy(forceCollectionUpdate = storeTrue(flag))
        case "--force_export_to_hive" =>
          a = a.copy(forceExportToHive = storeTrue(flag))
        case "--configuration_file" => a = a.copy(configurationFile = Some(value(flag)))
        case _ => unknown += argv(i)
      }
      i += 1
    }
    a.copy(unrecognized = unknown.result())
  }

  /** Collections to process: an explicit --db/--collection pair wins;
    * otherwise the configuration file's `collections_all` map
    * (`{"db.x.y": {"db": "x", "table": "y"}}` — same shape the
    * reference inlines at corporate_data_ingestion.py:155-166);
    * otherwise the reference's built-in default collection.
    */
  def collections(a: Args): Seq[(String, String)] =
    (a.db, a.collection) match {
      case (Some(db), Some(c)) => Seq((db, c))
      case (Some(_), None) | (None, Some(_)) =>
        // half a pair must not silently fall back to the default —
        // that would ingest a different collection than the one named
        sys.error("--db and --collection must be provided together")
      case _ =>
        a.configurationFile.map { path =>
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val root = mapper.readTree(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(path)))
          val all = root.path("collections_all")
          val out = Seq.newBuilder[(String, String)]
          val it = all.fields()
          while (it.hasNext) {
            val e = it.next()
            out += ((e.getValue.path("db").asText(), e.getValue.path("table").asText()))
          }
          out.result()
        }.getOrElse(Seq(("calculator", "calculationParts")))
    }

  /** The process_collection loop: per collection, run the date range
    * with IN_PROGRESS/COMPLETED/FAILED transitions (Runner.runRange).
    * Dates default to today (same as the reference's today_str).
    * Collections run on a `--concurrency`-sized pool (the reference's
    * concurrent-collections knob) — Spark schedules concurrent jobs
    * from multiple driver threads fine; each collection's date LOOP
    * stays sequential because later dates read earlier state.
    */
  def run(spark: SparkSession, a: Args, status: StatusStore): Unit = {
    val today = java.time.LocalDate.now().toString
    val start = a.startDate.getOrElse(today)
    val end = a.endDate.getOrElse(today)
    val source = a.sourcePrefix.getOrElse(
      sys.error("--source_s3_prefix is required to run an ingestion"))
    val dest = a.destinationPrefix.getOrElse(
      sys.error("--destination_s3_prefix is required to run an ingestion"))
    val cols = collections(a)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(a.concurrency, cols.size)))
    try {
      val futures = cols.map { case (db, table) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            new Runner(spark, status, correlationId = a.correlationId,
              forceCollectionUpdate = a.forceCollectionUpdate,
              forceExportToHive = a.forceExportToHive)
              .runRange(source, start, end, db, table, dest)
        })
      }
      try futures.foreach(_.get()) // propagate the first failure
      catch {
        case e: java.util.concurrent.ExecutionException =>
          // stop the other collections instead of letting them race a
          // stopping SparkSession, and rethrow the task's own exception
          // (the reference re-raises it unwrapped)
          futures.foreach(_.cancel(true))
          pool.shutdownNow()
          throw Option(e.getCause).getOrElse(e)
      }
    } finally {
      pool.shutdown()
      // quiesce before the caller's spark.stop() pulls the session away
      // from any still-interrupting runner
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
      ()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    if (a.unrecognized.nonEmpty)
      Console.err.println(s"WARN unrecognized args ${a.unrecognized.mkString(", ")} " +
        s"for correlation id ${a.correlationId}")
    val metrics = MetricsSink.bindFromEnv("main")
    val spark = Graft.builder(32).appName("graft-corporate-data-ingestion").getOrCreate()
    try run(spark, a, new InMemoryStatusStore)
    finally { metrics.flush(); spark.stop() }
  }
}
