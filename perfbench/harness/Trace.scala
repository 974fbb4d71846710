package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a benchmark call into a graft layer. */
final case class Span(id: Long, parent: Long, layer: String, name: String, runId: String,
    startNs: Long, @volatile var endNs: Long = 0L)

/** Spans and Spark-side counters of a traced run, kept in memory and
  * written once when the run ends. Spans are recorded only from the
  * benchmark's own calls; a Spark job is tied to the innermost open span
  * through its job group, and Catalyst phases through their timestamps.
  * Each thread has its own stack of open spans; a thread started inside a
  * span inherits it as its parent, as it inherits the job group.
  */
final class Tracer(runId: String) {
  private val nextId = new AtomicLong(1)
  private val recorded = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def spans: Seq[Span] = recorded.asScala.toSeq
  private val stack = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private def open: List[Span] = stack.get
  @volatile var enabled = false
  /** span id → counter name → value; filled by the listeners. */
  val counters = new ConcurrentHashMap[Long, ConcurrentHashMap[String, Double]]()
  /** `triggerExecution` ms of every traced microbatch. */
  val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  /** (wall-clock start ms, phase, ms) of each Catalyst phase, matched to
    * spans when the run ends. */
  private val phaseLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()

  def add(span: Long, key: String, v: Double): Unit =
    counters.computeIfAbsent(span, _ => new ConcurrentHashMap[String, Double]())
      .merge(key, v, (a: Double, b: Double) => a + b)

  /** Runs `body` inside a span; without tracing it just runs `body`. */
  def span[A](spark: SparkSession, layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(nextId.getAndIncrement(), open.headOption.fold(0L)(_.id), layer, name, runId,
        System.nanoTime())
      recorded.add(s)
      stack.set(s :: open)
      val sc = spark.sparkContext
      sc.setJobGroup(s"span-${s.id}", s"$layer $name", interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.set(open.tail)
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", s"${p.layer} ${p.name}", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Adds a count to the innermost open span (or to the run, id 0). */
  def count(key: String, v: Double): Unit =
    if (enabled) add(open.headOption.fold(0L)(_.id), key, v)

  /** Attributes a Catalyst phase to the innermost span open at its start. */
  private[perfbench] def phase(startMs: Long, name: String, ms: Long): Unit =
    phaseLog.add((startMs, name, ms))

  private val nsToMsOffset = System.currentTimeMillis() - System.nanoTime() / 1000000L

  /** Resolves the phase log against the spans once the run is over. */
  def settlePhases(): Unit = {
    val it = phaseLog.iterator()
    while (it.hasNext) {
      val (startMs, name, ms) = it.next()
      val t = (startMs - nsToMsOffset) * 1000000L
      val inner = spans.filter(s => s.startNs <= t && (s.endNs == 0L || t <= s.endNs))
        .sortBy(s => -s.startNs).headOption
      add(inner.fold(0L)(_.id), s"spark.${name}_ms", ms.toDouble)
    }
    phaseLog.clear()
  }

  def spanOfGroup(group: String): Long =
    if (group != null && group.startsWith("span-")) group.stripPrefix("span-").toLong else 0L
}

/** Task, stage and job counts and task metrics per span (via job group). */
final class TaskListener(t: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = t.spanOfGroup(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
    t.add(span, "spark.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    t.add(stageSpan.getOrDefault(e.stageInfo.stageId, 0L), "spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    val m = e.taskMetrics
    t.add(span, "spark.tasks", 1)
    if (m != null) {
      t.add(span, "spark.task_cpu_s", m.executorCpuTime / 1e9)
      t.add(span, "spark.task_run_s", m.executorRunTime / 1e3)
      t.add(span, "spark.gc_s", m.jvmGCTime / 1e3)
      t.add(span, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      t.add(span, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      t.add(span, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      t.add(span, "spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      t.add(span, "spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      t.add(span, "spark.scheduler_delay_s", math.max(0L, delay) / 1e3)
    }
  }
}

/** Catalyst phase times of every action (analysis, optimization, planning). */
final class PhaseListener(t: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      if (name != "parsing") t.phase(p.startTimeMs, name, p.durationMs)
    }
}

/** Microbatch progress of every streaming query. */
final class ProgressListener(t: Tracer) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    d.get("triggerExecution").foreach(ms => t.batchMs.add(ms.longValue))
    t.add(0L, "streaming.batches", 1)
    t.add(0L, "streaming.input_rows", p.numInputRows.toDouble)
    t.add(0L, "streaming.commit_ms",
      (d.get("walCommit").map(_.doubleValue).getOrElse(0.0) +
        d.get("commitOffsets").map(_.doubleValue).getOrElse(0.0)))
    p.stateOperators.foreach { s =>
      t.add(0L, "streaming.state_rows", s.numRowsTotal.toDouble)
      t.add(0L, "streaming.state_bytes", s.memoryUsedBytes.toDouble)
    }
  }
}

/** The three listeners, registered from benchmark code and removable. */
final class Listeners(spark: SparkSession, t: Tracer) {
  val tasks = new TaskListener(t)
  val phases = new PhaseListener(t)
  val progress = new ProgressListener(t)

  def register(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(phases)
    spark.streams.addListener(progress)
  }

  def unregister(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(phases)
    spark.streams.removeListener(progress)
  }
}
