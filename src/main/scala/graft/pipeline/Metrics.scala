package graft.pipeline

/** Pluggable metrics surface — the sandbox re-expression of the
  * reference's telemetry bootstrap (bootstrap_actions/cloudwatch.sh +
  * status_metrics.sh ship step metrics and the DKS cache hit/miss
  * accumulators, dks.py:96-116, to CloudWatch). The engine emits
  * through ONE trait; deployments bind the sink that matches their
  * stack (CloudWatch agent, StatsD, a scrape file) without touching
  * any operator:
  *
  *  - counter: monotone event counts (DKS decrypt calls, queries
  *    dumped, per-date pipeline heartbeats).
  *  - gauge:   point-in-time values (rows produced, state rows).
  *  - timing:  durations in milliseconds (per-query verify wall).
  *
  * Implementations must be cheap and never throw into the caller —
  * telemetry must not be able to fail a pipeline (the sinks below
  * swallow their own IO errors after stashing a diagnostic).
  *
  * Bind points: [[MetricsSink.bindFromEnv]] reads SPARK_GRAFT_METRICS
  * (a filesystem path → [[JsonlMetricsSink]]; an http(s) URL →
  * [[HttpMetricsSink]]; unset → noop). graft.Verify binds it and
  * emits per-query timings, a dump-count counter and one
  * `verify.query_failures` per failed query; graft.Main binds it for
  * a job run, where [[Runner.runRange]] emits `pipeline.heartbeat`
  * once per COMPLETED date. These two are the metrics
  * [[AlertRules.standard]] alarms on (a failure, a silent heartbeat);
  * [[KeyService]] emits decrypt-call counts (the reference's dks_miss
  * — with the broadcast-join design every non-distinct record is by
  * construction a cache hit).
  */
trait MetricsSink {
  def counter(name: String, value: Long, tags: Map[String, String] = Map.empty): Unit
  def gauge(name: String, value: Double, tags: Map[String, String] = Map.empty): Unit
  def timing(name: String, millis: Long, tags: Map[String, String] = Map.empty): Unit
  def flush(): Unit = ()
}

object MetricsSink {
  /** The do-nothing default: unbound deployments pay zero cost. */
  val noop: MetricsSink = new MetricsSink {
    override def counter(n: String, v: Long, t: Map[String, String]): Unit = ()
    override def gauge(n: String, v: Double, t: Map[String, String]): Unit = ()
    override def timing(n: String, v: Long, t: Map[String, String]): Unit = ()
  }

  /** Process-wide bind point (the cloudwatch-agent singleton shape).
    * Emitters read it at emit time, so a late bind still catches
    * subsequent traffic.
    */
  @volatile var global: MetricsSink = noop

  /** SPARK_GRAFT_METRICS=path.jsonl | http(s)://host/metrics | unset. */
  def bindFromEnv(who: String): MetricsSink = {
    sys.env.get("SPARK_GRAFT_METRICS") match {
      case Some(url) if url.startsWith("http://") || url.startsWith("https://") =>
        global = new HttpMetricsSink(url)
        System.err.println(s"[$who] metrics sink: http -> $url")
      case Some(path) if path.nonEmpty =>
        global = new JsonlMetricsSink(path)
        System.err.println(s"[$who] metrics sink: jsonl -> $path")
      case _ => ()
    }
    global
  }
}

/** The shared one-line-per-metric JSON encoding both sinks emit. */
private[graft] object MetricLine {
  /** `s` as a quoted JSON string literal (quote, backslash and every
    * control character escaped).
    */
  def quote(s: String): String =
    "\"" + String.valueOf(
      com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance().quoteAsString(s)) + "\""

  def apply(kind: String, name: String, value: String,
      tags: Map[String, String]): String = {
    val tagJson = tags.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${quote(k)}:${quote(v)}" }
      .mkString("{", ",", "}")
    s"""{"ts":${System.currentTimeMillis()},"kind":"$kind","name":${quote(name)},"value":$value,"tags":$tagJson}"""
  }
}

/** Append-only JSONL sink: one self-describing line per metric — the
  * shape a CloudWatch agent / Vector / fluent-bit file scraper tails.
  * Writes are synchronized and flushed per line (a crash loses at
  * most the in-flight line); IO failures disable the sink rather
  * than poisoning the emitting pipeline.
  */
final class JsonlMetricsSink(path: String) extends MetricsSink {
  @volatile private var broken = false
  private val out = new java.io.File(path)
  Option(out.getParentFile).foreach(_.mkdirs())

  private def append(s: String): Unit = synchronized {
    if (broken) return
    try {
      val w = new java.io.FileWriter(out, true)
      try { w.write(s); w.write("\n") } finally w.close()
    } catch {
      case e: java.io.IOException =>
        broken = true
        System.err.println(s"[metrics] jsonl sink disabled: ${e.getMessage}")
    }
  }

  override def counter(n: String, v: Long, t: Map[String, String]): Unit =
    append(MetricLine("counter", n, v.toString, t))
  override def gauge(n: String, v: Double, t: Map[String, String]): Unit =
    append(MetricLine("gauge", n, v.toString, t))
  override def timing(n: String, v: Long, t: Map[String, String]): Unit =
    append(MetricLine("timing", n, v.toString, t))
}

/** HTTP sink: metrics buffer locally and POST as a JSONL batch on
  * flush (or when the buffer passes 256 lines) — the push-gateway /
  * collector-agent shape. Transport failures drop the batch with a
  * diagnostic; telemetry never fails the pipeline.
  */
final class HttpMetricsSink(endpoint: String, timeoutMs: Long = 2000)
    extends MetricsSink {
  private val buf = scala.collection.mutable.ListBuffer.empty[String]
  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()

  private def add(s: String): Unit = {
    val batch = synchronized {
      buf += s
      if (buf.size >= 256) { val b = buf.toList; buf.clear(); Some(b) }
      else None
    }
    batch.foreach(post)
  }

  private def post(lines: List[String]): Unit =
    try {
      val resp = client.send(java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(endpoint))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/x-ndjson")
        .POST(java.net.http.HttpRequest.BodyPublishers
          .ofString(lines.mkString("", "\n", "\n")))
        .build(), java.net.http.HttpResponse.BodyHandlers.discarding())
      if (resp.statusCode() / 100 != 2)
        System.err.println(s"[metrics] collector returned ${resp.statusCode()}")
    } catch {
      case e: Exception =>
        System.err.println(s"[metrics] batch dropped: ${e.getMessage}")
    }

  override def counter(n: String, v: Long, t: Map[String, String]): Unit =
    add(MetricLine("counter", n, v.toString, t))
  override def gauge(n: String, v: Double, t: Map[String, String]): Unit =
    add(MetricLine("gauge", n, v.toString, t))
  override def timing(n: String, v: Long, t: Map[String, String]): Unit =
    add(MetricLine("timing", n, v.toString, t))
  override def flush(): Unit = {
    val batch = synchronized { val b = buf.toList; buf.clear(); b }
    if (batch.nonEmpty) post(batch)
  }
}
