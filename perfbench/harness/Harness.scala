package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One operation of a pass: a query, a (collection, export date) run or a
  * streaming query. `rows` is what the check compares; -1 when unused.
  */
final case class Op(name: String, seconds: Double, ok: Boolean, rows: Long, error: String = "")

/** What a workload needs while it runs. */
final class Ctx(val input: String, val work: String, val out: String, val seed: Long,
    val tracer: Tracer) {
  var spark: SparkSession = _
}

/** A benchmark workload: a work list run once per pass. */
trait Workload {
  /** Input records one pass takes through to its output. */
  def records: Long
  /** Runs the work list once. `warm` marks the untimed warm-up pass of a
    * set-up, `keep` asks for outputs to be kept for the oracle check.
    */
  def pass(ctx: Ctx, warm: Boolean, keep: Boolean): Seq[Op]
  /** Makes the pass's starting state (outside timing). */
  def prepare(ctx: Ctx): Unit = ()
  /** Summarises the last pass's output for the checker (outside timing);
    * called after every pass, `first` marks the run's first pass.
    */
  def summary(ctx: Ctx, first: Boolean): Map[String, Any] = Map.empty
  /** Per-layer numbers measured from outside in a traced run. */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty
}

/** The measured JVM. Usage:
  * Harness <workload> <inputDir> <workDir> <outDir> <seconds> <trace 0|1> <seed>
  *
  * `workDir` is scratch that may vanish with the JVM; `outDir` receives
  * result.json, spans.json and the outputs kept for the oracle check.
  *
  * The run sets up three times. Each set-up builds a fresh session,
  * clears the program's artifacts and runs one untimed warm-up pass; its
  * duration is one `setup_s` sample (the first one also covers JVM
  * launch). Timed passes follow the last set-up: at least three, and
  * until the run's seconds are spent. With tracing on, timed passes
  * alternate between untraced and traced, so the run reports its own
  * tracing overhead.
  */
object Harness {
  val Setups = 3
  val Cores = 4
  private val Codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

  def main(args: Array[String]): Unit =
    if (args.sameElements(Seq("class-archive"))) archiveRun() else run(args)

  /** A short session whose loaded classes the build archives (AppCDS), so
    * measured JVMs start without parsing Spark's classes again.
    */
  private def archiveRun(): Unit = {
    val work = Files.createTempDirectory("perfbench-archive").toString
    val s = session(work)
    s.range(1000).selectExpr("id % 7 AS k", "id").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()
    s.stop()
    graft.Stage.deleteRecursively(new File(work))
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, input, work, out, secondsArg, traceArg, seedArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val tracer = new Tracer(s"$workload-$seedArg-${ProcessHandle.current.pid}")
    val ctx = new Ctx(input, work, out, seedArg.toLong, tracer)
    val w: Workload = workload match {
      case "cdi_daily" => new CdiDaily(ctx)
      case "llm_corpus" => QueryWorkload.llmCorpus(ctx)
      case "analytics_sf01" => QueryWorkload.analytics(ctx)
      case "stream_upsert" => QueryWorkload.streamUpsert(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val setups = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val summaries = mutable.ArrayBuffer.empty[Map[String, Any]]
    var layers = Map.empty[String, Double]
    for (round <- 0 until Setups) {
      val t0 = if (round == 0) jvmStartNs else System.nanoTime()
      if (ctx.spark != null) ctx.spark.stop()
      clearArtifacts()
      ctx.spark = session(work)
      w.prepare(ctx)
      val warmOps = w.pass(ctx, warm = true, keep = round == 0)
      setups += (System.nanoTime() - t0) / 1e9
      passes += passJson(warmOps, -1, warm = true, traced = false)
      val sumS = summarise(w, ctx, round == 0, s"warm-up $round", summaries)
      progress(f"set-up $round: ${setups.last}%.2f s " + opsText(warmOps) + f" (summary $sumS%.2f s)")
    }
    // timed passes follow the last set-up: at least three, because the
    // JIT still speeds passes up after the warm-ups and a fixed count
    // keeps that drift the same in every run. With tracing, untraced and
    // traced passes alternate and there is at least one of each.
    val listeners = new Listeners(ctx.spark, tracer)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = if (trace) 2 else 3
    var i = 0
    while (i < minPasses || System.nanoTime() < deadline) {
      val traced = trace && i % 2 == 1
      w.prepare(ctx)
      if (traced) { listeners.register(); tracer.enabled = true }
      val compiles0 = Codegen.getCount
      val p0 = System.nanoTime()
      val ops = tracer.span(ctx.spark, "pass", s"pass$i") {
        w.pass(ctx, warm = false, keep = false)
      }
      val passS = (System.nanoTime() - p0) / 1e9
      if (traced) {
        tracer.enabled = false
        listeners.unregister()
        // Spark keeps compile times in a sampling histogram, so the
        // milliseconds are the count times the sampled mean
        val compiles = Codegen.getCount - compiles0
        tracer.add(0L, "spark.codegen.compiles", compiles.toDouble)
        tracer.add(0L, "spark.codegen.compile_ms", compiles * Codegen.getSnapshot.getMean)
      }
      passes += passJson(ops, passS, warm = false, traced = traced)
      val sumS = summarise(w, ctx, first = false, s"pass $i", summaries)
      progress(f"pass $i${if (traced) " traced" else ""}: $passS%.2f s " + opsText(ops) +
        f" (summary $sumS%.2f s)")
      i += 1
    }
    if (trace) layers = w.layers(ctx)
    ctx.spark.stop()
    val spansFile = s"$out/spans.json"
    if (trace) {
      tracer.settlePhases()
      Json.write(spansFile, Map("run_id" -> tracer.spans.headOption.fold("")(_.runId),
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "layer" -> s.layer, "name" -> s.name, "run_id" -> s.runId,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
        "counters" -> tracer.counters.asScala.map { case (span, c) => span.toString -> c.asScala.toMap },
        "batch_ms" -> tracer.batchMs.asScala.toSeq))
    }
    Json.write(s"$out/result.json", Map(
      "workload" -> workload,
      "records_per_pass" -> w.records,
      "setups_s" -> setups.toSeq,
      "passes" -> passes.toSeq,
      "summaries" -> summaries.toSeq,
      "layers" -> layers,
      "spans_file" -> (if (trace) spansFile else ""),
      "peak_rss_mb" -> peakRssMb))
  }

  /** Appends the last pass's summary, or the error that made it, to
    * `into`; returns the seconds it took. */
  private def summarise(w: Workload, ctx: Ctx, first: Boolean, pass: String,
      into: mutable.ArrayBuffer[Map[String, Any]]): Double = {
    val (sum, s) = timed(scala.util.Try(w.summary(ctx, first)).fold(
      e => Map[String, Any]("error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"),
      identity))
    into += sum + ("pass" -> pass)
    s
  }

  private def progress(msg: String): Unit = System.err.println(s"[harness] $msg")

  private def opsText(ops: Seq[Op]): String =
    ops.map(o => f"${o.name}=${o.seconds}%.2f${if (o.ok) "" else "!"}").mkString(" ")

  private def passJson(ops: Seq[Op], seconds: Double, warm: Boolean, traced: Boolean) =
    Map("seconds" -> seconds, "warm" -> warm, "traced" -> traced,
      "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok,
        "rows" -> o.rows, "error" -> o.error)))

  /** `local[4]` session with every scratch location under the run's own
    * work dir; the warehouse setting keeps `saveAsTable` out of the
    * working directory.
    */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Removes the program's `/tmp/graft_*` artifacts. The benchmark runs the
    * JVM with a private `/tmp`, so these are this run's own; clearing them
    * before each warm-up makes every set-up start from a clean slate.
    */
  def clearArtifacts(): Unit =
    Option(new File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("graft_") || f.getName.startsWith(".graft"))
      .foreach(graft.Stage.deleteRecursively)

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Bytes and files under a directory tree (0 when absent). */
  def treeSize(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      val data = files.filterNot { f =>
        val n = f.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }
      (data.map(Files.size).sum, data.length.toLong)
    }
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** JSON output through Jackson's Scala module, which ships with Spark. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}
