package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.builder(cpus.toInt).master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional filesystem-seam binding: SPARK_GRAFT_FS=hadoop routes
    // every artifact publish/resolve through the conf-routed Hadoop
    // FileSystem (checksummed LocalFileSystem for scheme-less paths —
    // the s3a:// protocol shape), proving no java.io.File assumption
    // survives in any operator's artifact path. Default stays POSIX.
    graft.fs.FsOps.bindFromEnv("verify")
    // optional telemetry binding (SPARK_GRAFT_METRICS=path.jsonl or an
    // http collector URL): per-query wall timings, dump counts and DKS
    // decrypt-call counters all land in the bound sink — the
    // reference's cloudwatch.sh surface
    graft.pipeline.MetricsSink.bindFromEnv("verify")
    // optional comma-separated name filter (same contract as Bench) —
    // lets scale probes dump a single operator without the full sweep
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** The dump body, callable in-process (specs drive it against their
    * own session; `main` owns session lifecycle).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    val sink = graft.pipeline.MetricsSink.global
    new java.io.File(outDir).mkdirs()
    var dumped = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
        sink.timing("verify.query_ms", (System.nanoTime() - t0) / 1000000,
          Map("query" -> name))
      }
      catch { case e: Throwable =>
        // class + message + first in-graft frame: an empty INTERNAL_ERROR
        // message is undiagnosable without at least one frame
        val frame = e.getStackTrace.find(_.getClassName.startsWith("graft"))
          .orElse(e.getStackTrace.headOption).map(_.toString).getOrElse("")
        val cause = Option(e.getCause).map(c => s" caused by ${c.getClass.getSimpleName}: ${c.getMessage}").getOrElse("")
        System.err.println(s"[verify] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}$cause @ $frame")
        sink.counter("verify.query_failures", 1, Map("query" -> name))
      }
    }
    // JSON string literal: a tab or CR in builder-authored SQL left
    // unescaped would make the driver's json.load fail and silently
    // zero the round's correctness
    def q(s: String): String = graft.pipeline.MetricLine.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Stamp the dump so a grader can never silently compare a stale or
    // partial out dir against the current registry: the registry size,
    // the git SHA the dump was built from, and the active name filter.
    // check.py refuses to certify a full gate when dumped != registry.
    val sha = try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else "unknown"
    } catch { case _: Exception => "unknown" }
    val dumpedNames = SparkEntry.queries.keys
      .filter(n => only.forall(_.contains(n))).toSeq.sorted
    // dumped_count counts queries whose parquet actually LANDED (so it
    // agrees with the verify.queries_dumped metric and never claims an
    // artifact a failed query didn't write); planned_count is the
    // filtered registry size the run attempted
    val meta = s"""{"registry_count": ${SparkEntry.queries.size},""" +
      s""" "dumped_count": $dumped,""" +
      s""" "planned_count": ${dumpedNames.size},""" +
      s""" "filter": ${only.map(f => q(f.toSeq.sorted.mkString(","))).getOrElse("null")},""" +
      s""" "git_sha": ${q(sha)}, "sf_dir": ${q(sfDir)},""" +
      s""" "fs_seam": ${q(graft.fs.FsOps.current.name)}}"""
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    // telemetry epilogue: the run's own counts
    sink.counter("verify.queries_dumped", dumped,
      Map("fs" -> graft.fs.FsOps.current.name))
    sink.flush()
  }
}
