package graft.pipeline

import scala.collection.mutable

/** One fired alert — the event the reference's alarm chain delivers
  * (cloudwatch alarm → sns.tf topic → slack-alerts.tf lambda): which
  * rule fired, over which metric, at what observed level.
  */
final case class Alert(rule: String, metric: String, value: Double,
    tags: Map[String, String], atMs: Long)

/** Alert rule grammar — the two shapes the reference's terraform
  * alarms declare (slack-alerts.tf / sns.tf: threshold alarms on step
  * failure counters, missing-data alarms on heartbeat metrics).
  */
sealed trait AlertRule {
  def name: String
  def metric: String
}

object AlertRule {
  /** Fire when the metric's LEVEL (cumulative sum for counters, last
    * value for gauges/timings) reaches `threshold` — once per breach
    * EPISODE: the rule latches after firing and re-arms only when the
    * level falls back below the threshold (hysteresis — a flapping
    * gauge crossing N times in one episode still alerts once; a
    * monotone counter episode never re-fires).
    */
  final case class Threshold(name: String, metric: String,
      threshold: Double) extends AlertRule

  /** Fire when no event named `metric` has arrived within
    * `windowMillis` of the evaluation tick — CloudWatch's
    * treat-missing-data-as-breaching alarm, the liveness watchdog for
    * a pipeline that died without emitting a failure. Once per silent
    * episode: a returning heartbeat re-arms the rule.
    */
  final case class MissingHeartbeat(name: String, metric: String,
      windowMillis: Long) extends AlertRule
}

object AlertRules {
  /** The engine's standard alarm surface: any verify failure
    * (`verify.query_failures`, emitted by graft.Verify) and pipeline
    * liveness (`pipeline.heartbeat`, emitted by `Runner.runRange` once
    * per COMPLETED date). Every rule watches a metric the engine emits;
    * PlanLintSpec checks that.
    */
  def standard(heartbeatWindowMillis: Long = 15 * 60 * 1000L): Seq[AlertRule] = Seq(
    AlertRule.Threshold("verify-failure", "verify.query_failures", 1.0),
    AlertRule.MissingHeartbeat("pipeline-heartbeat", "pipeline.heartbeat",
      heartbeatWindowMillis))
}

/** Rule evaluator over the metrics stream — a [[MetricsSink]] that
  * forwards every event to `downstream` unchanged and evaluates the
  * rules inline (threshold rules at each event; heartbeat absence at
  * [[evaluateNow]] ticks, which a scheduler calls periodically and
  * specs call with an injected clock). Fired alerts go to `onAlert`
  * AND ride the downstream sink as `alert.fired` counters tagged with
  * (rule, metric) — so the alert stream is itself scrapeable.
  *
  * Episode discipline: each rule latches on fire and re-arms only on
  * recovery (threshold: level back below; heartbeat: an event
  * arrives) — exactly one alert per breach episode, no flapping.
  * Telemetry must never fail the pipeline: `onAlert` errors are
  * swallowed after a diagnostic.
  */
final class AlertingSink(
    rules: Seq[AlertRule],
    downstream: MetricsSink = MetricsSink.noop,
    onAlert: Alert => Unit = _ => (),
    clock: () => Long = () => System.currentTimeMillis())
    extends MetricsSink {

  private val counters = mutable.Map.empty[String, Double]
  private val gauges = mutable.Map.empty[String, Double]
  private val lastSeen = mutable.Map.empty[String, Long]
  private val inBreach = mutable.Set.empty[String]
  private val armedAt = clock()
  // bounded spec/diagnostic buffer of fired alerts (newest kept)
  private val firedBuf = mutable.ArrayBuffer.empty[Alert]

  def fired: Seq[Alert] = synchronized(firedBuf.toList)

  private def level(metric: String): Option[Double] =
    synchronized(counters.get(metric).orElse(gauges.get(metric)))

  private def fire(rule: AlertRule, value: Double,
      tags: Map[String, String]): Unit = {
    val a = Alert(rule.name, rule.metric, value, tags, clock())
    synchronized {
      inBreach += rule.name
      firedBuf += a
      if (firedBuf.size > 1024) firedBuf.remove(0)
    }
    downstream.counter("alert.fired", 1,
      Map("rule" -> rule.name, "metric" -> rule.metric))
    try onAlert(a)
    catch {
      case e: Exception =>
        System.err.println(s"[alerts] handler failed for ${rule.name}: ${e.getMessage}")
    }
  }

  /** Threshold evaluation for one metric's new level: fire on entering
    * breach, re-arm on leaving it.
    */
  private def evalThresholds(metric: String, tags: Map[String, String]): Unit =
    rules.foreach {
      case r: AlertRule.Threshold if r.metric == metric =>
        val v = level(metric).getOrElse(0.0)
        val breached = synchronized(inBreach.contains(r.name))
        if (v >= r.threshold && !breached) fire(r, v, tags)
        else if (v < r.threshold && breached) synchronized { inBreach -= r.name; () }
      case _ => ()
    }

  private def record(metric: String): Unit = synchronized {
    lastSeen(metric) = clock()
    // a live heartbeat closes its silent episode
    rules.foreach {
      case r: AlertRule.MissingHeartbeat if r.metric == metric => inBreach -= r.name
      case _ => ()
    }
  }

  /** Heartbeat-absence tick: silent-past-window rules fire (once per
    * silent episode); a metric never seen counts silent since
    * construction. Returns the alerts fired by THIS tick.
    */
  def evaluateNow(): Seq[Alert] = {
    val now = clock()
    rules.flatMap {
      case r: AlertRule.MissingHeartbeat =>
        val (last, breached) = synchronized(
          (lastSeen.getOrElse(r.metric, armedAt), inBreach.contains(r.name)))
        if (now - last > r.windowMillis && !breached) {
          fire(r, (now - last).toDouble, Map("silent_ms" -> (now - last).toString))
          synchronized(firedBuf.lastOption.toSeq)
        } else Seq.empty
      case _ => Seq.empty
    }
  }

  override def counter(n: String, v: Long, t: Map[String, String]): Unit = {
    downstream.counter(n, v, t)
    synchronized { counters(n) = counters.getOrElse(n, 0.0) + v }
    record(n)
    evalThresholds(n, t)
  }

  override def gauge(n: String, v: Double, t: Map[String, String]): Unit = {
    downstream.gauge(n, v, t)
    synchronized { gauges(n) = v }
    record(n)
    evalThresholds(n, t)
  }

  override def timing(n: String, v: Long, t: Map[String, String]): Unit = {
    downstream.timing(n, v, t)
    synchronized { gauges(n) = v.toDouble }
    record(n)
    evalThresholds(n, t)
  }

  override def flush(): Unit = downstream.flush()
}
