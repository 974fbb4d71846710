package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.pipeline.{HttpMetricsSink, JsonlMetricsSink, KeyService, MetricsSink}

/** The pluggable metrics surface (reference: cloudwatch.sh /
  * status_metrics.sh telemetry): the JSONL and HTTP sinks, the DKS
  * decrypt-call feed, and the Verify-run parity contract — emitted
  * per-query metrics must agree with the run's own verify_meta
  * counts.
  */
class MetricsSpec extends SparkSpec {
  private val om = new ObjectMapper()

  private def readLines(f: java.io.File): Seq[com.fasterxml.jackson.databind.JsonNode] =
    scala.io.Source.fromFile(f).getLines().map(om.readTree).toSeq

  private def withGlobal[A](sink: MetricsSink)(body: => A): A = {
    val prev = MetricsSink.global
    MetricsSink.global = sink
    try body finally MetricsSink.global = prev
  }

  test("JSONL sink: one self-describing line per metric, tags sorted, values typed") {
    val f = java.io.File.createTempFile("graft_metrics", ".jsonl")
    f.delete()
    val sink = new JsonlMetricsSink(f.getPath)
    sink.counter("dks.decrypt_calls", 42, Map("db" -> "corp"))
    sink.gauge("state.rows", 12.5)
    sink.timing("query_ms", 830, Map("query" -> "q1_agg"))
    // quote, backslash, tab and NUL survive the encoding intact
    val odd = "a\"b\\c\td\u0000e"
    sink.counter(odd, 1, Map(odd -> odd))
    val lines = readLines(f)
    assert(lines.map(_.get("kind").asText()) === Seq("counter", "gauge", "timing", "counter"))
    assert(lines(3).get("name").asText() === odd)
    assert(lines(3).get("tags").get(odd).asText() === odd)
    assert(lines(0).get("name").asText() === "dks.decrypt_calls")
    assert(lines(0).get("value").asLong() === 42)
    assert(lines(0).get("tags").get("db").asText() === "corp")
    assert(lines(1).get("value").asDouble() === 12.5)
    assert(lines(2).get("value").asLong() === 830)
    assert(lines.forall(_.get("ts").asLong() > 0))
    f.delete()
  }

  test("KeyService feeds dks.decrypt_calls: one counted call per DISTINCT key") {
    import spark.implicits._
    val f = java.io.File.createTempFile("graft_metrics_dks", ".jsonl")
    f.delete()
    withGlobal(new JsonlMetricsSink(f.getPath)) {
      val ks = new KeyService(k => k + "-plain")
      val rows = Seq(("k1", "a"), ("k1", "b"), ("k2", "c"), ("k1", "d"))
        .toDF("key_enc", "payload")
      val out = ks.withDataKeys(rows).collect()
      assert(out.length === 4)
      assert(ks.lastResolvedCount === 2)
    }
    val dks = readLines(f).filter(_.get("name").asText() == "dks.decrypt_calls")
    assert(dks.map(_.get("value").asLong()).sum === 2,
      "decrypt calls must count distinct keys, not records")
    f.delete()
  }

  test("Verify-run parity: per-query timings and the dump counter match verify_meta") {
    val f = java.io.File.createTempFile("graft_metrics_verify", ".jsonl")
    f.delete()
    val outDir = java.nio.file.Files.createTempDirectory("graft_metrics_out").toFile
    val names = Set("q1_agg", "q2_filter_proj", "t_tokens")
    withGlobal(new JsonlMetricsSink(f.getPath)) {
      Verify.run(spark, sfDir, outDir.getPath, Some(names))
    }
    val meta = om.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/verify_meta.json")))
    assert(meta.get("dumped_count").asInt() === names.size)
    val lines = readLines(f)
    val timings = lines.filter(_.get("name").asText() == "verify.query_ms")
    assert(timings.size === meta.get("dumped_count").asInt(),
      "one timing per dumped query")
    assert(timings.map(_.get("tags").get("query").asText()).toSet === names)
    assert(timings.forall(_.get("value").asLong() >= 0))
    val dumped = lines.filter(_.get("name").asText() == "verify.queries_dumped")
    assert(dumped.map(_.get("value").asLong()) === Seq(names.size.toLong))
    assert(lines.count(_.get("name").asText() == "verify.query_failures") === 0)
    Stage.deleteRecursively(outDir)
    f.delete()
  }

  test("HTTP sink: metrics arrive at the collector as an NDJSON batch on flush") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val received = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val server =
      try HttpServer.create(new java.net.InetSocketAddress(
        java.net.InetAddress.getLoopbackAddress, 0), 0)
      catch {
        case e: java.io.IOException =>
          cancel(s"loopback bind unavailable: ${e.getMessage}")
      }
    server.createContext("/metrics", (ex: HttpExchange) => {
      try {
        new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          .split("\n").filter(_.nonEmpty).foreach(received.add)
        ex.sendResponseHeaders(204, -1)
      } finally ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2))
    server.start()
    try {
      val sink = new HttpMetricsSink(
        s"http://127.0.0.1:${server.getAddress.getPort}/metrics")
      sink.counter("dks.decrypt_calls", 7, Map("db" -> "corp"))
      sink.timing("query_ms", 12)
      assert(received.isEmpty, "batch must buffer until flush")
      sink.flush()
      assert(received.size === 2)
      val nodes = scala.jdk.CollectionConverters
        .ListHasAsScala(received).asScala.map(om.readTree).toSeq
      assert(nodes.map(_.get("name").asText()).toSet === Set("dks.decrypt_calls", "query_ms"))
    } finally server.stop(0)
  }

  // ---- Alert rules over the metrics stream (slack-alerts.tf / sns.tf) ----

  test("threshold rule: exactly one alert per breach episode — counters latch, gauges re-arm on recovery") {
    import graft.pipeline.{AlertingSink, AlertRule}
    val sink = new AlertingSink(Seq(
      AlertRule.Threshold("verify-failure", "verify.query_failures", 1.0),
      AlertRule.Threshold("lag", "stream.lag", 3.0)))
    // monotone counter: three breaching events, ONE alert (no flapping)
    sink.counter("verify.query_failures", 1, Map("query" -> "q1"))
    sink.counter("verify.query_failures", 1, Map("query" -> "q2"))
    sink.counter("verify.query_failures", 1, Map("query" -> "q3"))
    assert(sink.fired.count(_.rule == "verify-failure") === 1)
    assert(sink.fired.head.metric === "verify.query_failures")
    // gauge hysteresis: breach → one alert; flapping above stays the
    // SAME episode; recovery re-arms; a NEW breach is a new episode
    sink.gauge("stream.lag", 5.0)
    sink.gauge("stream.lag", 9.0)
    assert(sink.fired.count(_.rule == "lag") === 1)
    sink.gauge("stream.lag", 1.0) // recovered: episode closed
    sink.gauge("stream.lag", 7.0) // new episode
    assert(sink.fired.count(_.rule == "lag") === 2)
    // unrelated metrics never trip a rule
    sink.counter("dks.decrypt_calls", 100)
    assert(sink.fired.size === 3)
  }

  test("missing-heartbeat rule: fires once per silent window, re-arms when the heartbeat returns") {
    import graft.pipeline.{AlertingSink, AlertRule}
    var now = 1000L
    val sink = new AlertingSink(
      Seq(AlertRule.MissingHeartbeat("hb", "pipeline.heartbeat", 60000L)),
      clock = () => now)
    sink.counter("pipeline.heartbeat", 1)
    now += 59000L
    assert(sink.evaluateNow().isEmpty, "inside the window: silent but alive")
    now += 2000L
    assert(sink.evaluateNow().map(_.rule) === Seq("hb"), "window passed: fire")
    now += 60000L
    assert(sink.evaluateNow().isEmpty, "latched: the SAME silence never re-fires")
    sink.counter("pipeline.heartbeat", 1) // heartbeat returns: re-arm
    now += 61000L
    assert(sink.evaluateNow().map(_.rule) === Seq("hb"), "new silent episode fires")
    assert(sink.fired.count(_.rule == "hb") === 2)
  }

  test("alert chain end-to-end: verify failures → standard rules → one deduped alert riding the downstream sink") {
    import graft.pipeline._
    val f = java.io.File.createTempFile("graft_alerts", ".jsonl")
    f.delete()
    val downstream = new JsonlMetricsSink(f.getPath)
    val alerting = new AlertingSink(AlertRules.standard(), downstream)
    alerting.counter("verify.query_failures", 1, Map("query" -> "q_a"))
    alerting.counter("verify.query_failures", 1, Map("query" -> "q_b"))
    // two failure counters — ONE alert episode
    assert(alerting.fired.map(_.rule) === Seq("verify-failure"))
    val lines = readLines(f)
    assert(lines.count(_.get("name").asText() == "verify.query_failures") === 2,
      "raw counters pass through unchanged")
    val fired = lines.filter(_.get("name").asText() == "alert.fired")
    assert(fired.size === 1)
    assert(fired.head.get("tags").get("rule").asText() === "verify-failure")
    f.delete()
  }
}
