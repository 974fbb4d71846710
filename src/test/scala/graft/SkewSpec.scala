package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Skew

class SkewSpec extends SparkSpec {

  test("saltedJoin equals the plain join and spreads a hot key across salts") {
    val ev = Tables.events(spark, sfDir).select("event_id", "user_id", "event_type")
    val dim = Tables.events(spark, sfDir).select("user_id").distinct()
      .withColumn("segment", concat(lit("seg_"), col("user_id") % 3))

    val plain = ev.join(dim, Seq("user_id"))
      .select("user_id", "event_id", "event_type", "segment")
    val salted = Skew.saltedJoin(ev, dim, Seq("user_id"), salts = 8)
      .select("user_id", "event_id", "event_type", "segment")

    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)

    // the salt really spreads one key's rows across buckets
    val hot = ev.groupBy("user_id").count().orderBy(desc("count"))
      .limit(1).collect()(0).getLong(0)
    val spread = ev.filter(col("user_id") === hot)
      .withColumn("s", Skew.rowSalt(ev.filter(col("user_id") === hot), 8))
      .select("s").distinct().count()
    assert(spread > 1)
  }

  test("segmented sessionization (hour buckets + boundary stitch) equals one window per user") {
    // the q_concurrency discipline applied to sessions: no task sorts a
    // hot user's whole history, and the session count is unchanged
    val gapUs = 30L * 60 * 1000000
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val naive = ev.withColumn("prev", lag(col("us"), 1).over(w))
      .agg(sum(when(col("prev").isNull || col("us") - col("prev") > gapUs, 1L)
        .otherwise(0L))).head().getLong(0)
    val buckets = ev
      .groupBy(col("user_id"), expr("us div 3600000000").as("hour"))
      .agg(sort_array(collect_list(struct(col("us"), col("event_id")))).as("evs"))
      .select(col("user_id"), col("hour"),
        element_at(col("evs"), 1).getField("us").as("first_us"),
        element_at(col("evs"), -1).getField("us").as("last_us"),
        expr(
          s"""aggregate(slice(evs, 2, size(evs) - 1),
             |  named_struct('prev', evs[0].us, 'n', CAST(0 AS BIGINT)),
             |  (acc, e) -> named_struct('prev', e.us,
             |    'n', acc.n + IF(e.us - acc.prev > ${gapUs}L, 1L, 0L)),
             |  acc -> acc.n)""".stripMargin).as("inner_starts"))
    val segmented = buckets
      .withColumn("prev_last",
        lag(col("last_us"), 1).over(Window.partitionBy("user_id").orderBy("hour")))
      .agg(sum(col("inner_starts") +
        when(col("prev_last").isNull || col("first_us") - col("prev_last") > gapUs, 1L)
          .otherwise(0L))).head().getLong(0)
    assert(naive > 0)
    assert(segmented === naive)
  }
}
