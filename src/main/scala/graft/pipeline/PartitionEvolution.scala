package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Stage, Tables}
import graft.queries.QueryDef
import graft.queries.QueryDef._

/** Partition-spec EVOLUTION — the table-layout change Iceberg/Delta call
  * partition evolution, done on plain parquet generations: an old
  * generation partitioned by DAY coexists with a new generation
  * partitioned by (DAY, HOUR) (the spec tightened as volume grew — the
  * reference's daily-increment layout, ingesters.py:505-539, is exactly
  * the kind that outgrows its grain). Readers must keep pruning under
  * BOTH specs without rewriting history: each generation's scan maps
  * the time predicate onto ITS OWN partition columns, so old data
  * prunes at day granularity and new data at hour granularity — no
  * rewrite of the old generation, which at 100 TB is the whole point
  * (re-partitioning history is a full-table shuffle+rewrite).
  *
  * The per-generation predicate mapping is what an Iceberg reader does
  * internally from its spec-id-per-file metadata; here it is explicit
  * and spec-asserted (PartitionEvolutionSpec: the day-generation scan
  * reads only the 2 matching day dirs, the hour-generation scan reads
  * only the 12 matching hour dirs).
  */
object PartitionEvolution {

  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  private def baseDir(d: String): java.io.File =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_partevo_${Stage.sourceFingerprint(d, "events")}")

  /** Day index bounds and the evolution cutoff day (first day of the
    * hour-partitioned generation) — pure integer arithmetic on the
    * event-time range, restated verbatim by the oracle.
    */
  private[graft] def cutoffDay(s: SparkSession, d: String): Long = {
    val r = Tables.events(s, d)
      .select(expr(s"min(unix_micros(ts)) div $DayUs").as("mnd"),
        expr(s"max(unix_micros(ts)) div $DayUs").as("mxd"))
      .head()
    (r.getLong(0) + r.getLong(1) + 1) / 2
  }

  /** Build-once: gen1 = days before the cutoff, partitioned by pdate;
    * gen2 = the rest, partitioned by (pdate, phour).
    */
  def ensureLayout(s: SparkSession, d: String): (String, Long) = {
    val base = baseDir(d)
    // the cutoff is a pure function of the fingerprinted source; a
    // published layout serves it from its _CUTOFF file rather than
    // re-scanning events for min/max on every invocation. Pre-_CUTOFF
    // layouts rebuild cleanly — deletePublished drops the commit record
    // before the bytes
    if (Stage.published(base, "_DONE")
        && !new java.io.File(Stage.resolved(base), "_CUTOFF").exists())
      Stage.deletePublished(base)
    val phys = Stage.ensureArtifact(s, base, "_DONE") { tmp =>
      val cd = cutoffDay(s, d)
      val ev = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("pdate", expr(s"us div $DayUs"))
        .withColumn("phour", expr(s"(us % $DayUs) div $HourUs"))
        .drop("ts")
      ev.filter(col("pdate") < cd).drop("phour")
        .repartition(col("pdate"))
        .write.partitionBy("pdate").parquet(s"$tmp/gen1")
      ev.filter(col("pdate") >= cd)
        .repartition(col("pdate"), col("phour"))
        .write.partitionBy("pdate", "phour").parquet(s"$tmp/gen2")
      val w = new java.io.PrintWriter(new java.io.File(tmp, "_CUTOFF"), "UTF-8")
      try w.print(cd.toString) finally w.close()
      new java.io.File(tmp, "_DONE").createNewFile()
    }
    val cutoff = scala.io.Source.fromFile(new java.io.File(phys, "_CUTOFF"), "UTF-8")
    try (phys.getPath, cutoff.mkString.trim.toLong) finally cutoff.close()
  }

  /** The two generation scans with the SAME time predicate ([cutoff−2d,
    * cutoff+12h)) mapped onto each generation's own partition spec.
    * Exposed for the pruning spec.
    */
  private[graft] def generationScans(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (base, cd) = ensureLayout(s, d)
    val gen1 = s.read.parquet(s"$base/gen1")
      .filter(col("pdate").between(cd - 2, cd - 1))
    val gen2 = s.read.parquet(s"$base/gen2")
      .filter(col("pdate") === cd && col("phour") < 12)
    (gen1, gen2)
  }

  /** B25: cross-spec read — union the generations, aggregate; identical
    * to the full-scan oracle over the raw table.
    */
  def pPartitionEvolve(s: SparkSession, d: String): DataFrame = {
    val (gen1, gen2) = generationScans(s, d)
    gen1.select("event_type", "value")
      .unionByName(gen2.select("event_type", "value"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))
      .orderBy("event_type")
  }

  val pPartitionEvolveSql: String =
    s"""WITH st AS (SELECT min(epoch_us(ts)) // $DayUs AS mnd,
       |                   max(epoch_us(ts)) // $DayUs AS mxd FROM events),
       |b AS (SELECT (mnd + mxd + 1) // 2 AS cd FROM st)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
       |FROM events, b
       |WHERE epoch_us(ts) // $DayUs BETWEEN cd - 2 AND cd - 1
       |   OR (epoch_us(ts) // $DayUs = cd
       |       AND (epoch_us(ts) % $DayUs) // $HourUs < 12)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("p_partition_evolve", pPartitionEvolve, Some(pPartitionEvolveSql)))
}
