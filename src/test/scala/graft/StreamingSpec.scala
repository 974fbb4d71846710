package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.{Ann, Text}
import graft.streaming.Streaming

/** Blocks E/F/G specs: streaming results equal their batch twins; text
  * and multimodal operators behave deterministically.
  */
class StreamingSpec extends SparkSpec {

  test("st_window_agg streaming result equals batch twin") {
    val streamed = Streaming.stWindowAgg(spark, sfDir)
    val batch = Streaming.windowAggTransform(Tables.events(spark, sfDir))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.count() > 0)
  }

  test("st_dedup_watermark: doubled delivery dedups back to exact counts") {
    val streamed = Streaming.stDedupWatermark(spark, sfDir)
    val batch = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(count(lit(1)).as("n_events"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.count() > 0)
  }

  test("st_window_sliding: every event lands in exactly 2 windows") {
    val streamed = Streaming.stWindowSliding(spark, sfDir)
    val total = streamed.agg(sum(col("cnt"))).head.getLong(0)
    assert(total === 2 * Tables.events(spark, sfDir).count())
    // batch twin: explode each event into its two aligned window starts
    val twin = Tables.events(spark, sfDir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .select(col("event_type"), explode(array(
        expr("(us div 1800000000L) * 1800000000L"),
        expr("(us div 1800000000L) * 1800000000L - 1800000000L"))).as("ws_us"))
      .groupBy("ws_us", "event_type").agg(count(lit(1)).as("cnt"))
    assert(streamed.exceptAll(twin).count() === 0)
    assert(twin.exceptAll(streamed).count() === 0)
  }

  test("t_entropy matches an exact same-JVM recount") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase))
    val got = graft.operators.Text.tEntropy(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    docs.foreach { case (id, text) =>
      val counts = text.split("").filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val n = counts.values.sum.toDouble
      val h = -counts.values.map(c => (c / n) * math.log(c / n)).sum
      val hr = BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (nc, nd, e) = got(id)
      assert(nc === counts.values.sum)
      assert(nd === counts.size.toLong)
      assert(math.abs(e - hr) < 1e-9, s"doc $id: $e vs $hr")
    }
  }

  test("st_late_data drops late rows and matches the modeled batch twin") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // run the same stream by hand to read the per-batch drop counters
    val dir = Streaming.lateFixtureDir(spark, sfDir)
    val schema = spark.read.parquet(dir).schema
    val streamed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("cnt"))
    val q = streamed.writeStream.format("memory").queryName("late_spec_mem")
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dropped = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    assert(dropped > 0, "watermark never dropped a late row — fixture is not exercising lateness")

    // modeled twin: batch-2 rows (ids ≡ 3 mod 4) to windows closed by
    // the batch-0 watermark are dropped; emitted windows end ≤ final wm
    val e = Tables.events(spark, sfDir).select(col("event_id"),
      unix_micros(col("ts")).as("us"),
      unix_micros(date_trunc("hour", col("ts"))).as("ws_us"))
    val wmA = e.filter(col("event_id") % 2 === 0)
      .agg((max(col("us")) / 1000).cast("long") - 3600000L).head.getLong(0)
    val wmC = e.agg((max(col("us")) / 1000).cast("long") - 3600000L).head.getLong(0)
    val twin = e.filter(!(col("event_id") % 4 === 3
        && col("ws_us") + 3600000000L <= wmA * 1000L))
      .filter(col("ws_us") + 3600000000L <= wmC * 1000L)
      .groupBy("ws_us").agg(count(lit(1)).as("cnt"))
    val got = spark.table("late_spec_mem")
    assert(got.exceptAll(twin).count() === 0)
    assert(twin.exceptAll(got).count() === 0)
    assert(got.count() > 0)
  }

  test("st_sessionize flatMapGroupsWithState equals the window-cumsum batch twin") {
    import spark.implicits._
    val streamedDs = Streaming.sessionizeStreaming(spark, sfDir)
    val q = streamedDs.writeStream.format("memory")
      .queryName("sessionize_mem")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sessionize_mem")
      .select("user_id", "session_id", "n_events", "session_start_us", "session_end_us")
    val batch = Streaming.stSessionize(spark, sfDir)
      .select("user_id", "session_id", "n_events", "session_start_us", "session_end_us")
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(batch.count() > 0)
  }

  test("st_stream_join equals the batch time-bounded join twin") {
    val streamed = Streaming.stStreamJoin(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("pus"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("vus"))
    val batch = p.join(v, col("p_user") === col("v_user")
        && col("vus") >= col("pus") - 3600000000L && col("vus") <= col("pus"))
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(batch.count() > 0)
  }

  test("st_stream_join_semi: each matched purchase emitted exactly once (batch left-semi twin)") {
    val streamed = Streaming.stStreamJoinSemi(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), unix_micros(col("ts")).as("pus"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), unix_micros(col("ts")).as("vus"))
    val batch = p.join(v, col("p_user") === col("v_user")
        && col("vus") >= col("pus") - 3600000000L && col("vus") <= col("pus"),
      "left_semi")
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_confirmed"))
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(batch.count() > 0)
    // semi never exceeds inner: confirmed purchases ≤ matched pairs
    val both = streamed.as("s")
      .join(Streaming.stStreamJoin(spark, sfDir).as("i"), "user_id")
    assert(both.filter(col("s.n_confirmed") > col("i.n_pairs")).count() === 0)
  }

  test("st_stream_join_outer: per-microbatch-prefix outputs match the lagged-watermark model") {
    // Scala twin of the measured timeline rules (Streaming.scala
    // scaladoc on stStreamJoinOuter): late filter in batch N uses
    // W(N−2), eviction at end of batch N uses W(N−1), trailing
    // no-data batches evict with W(last). Running the stream over
    // 1-, 2- and 3-batch prefixes of the fixture pins WHEN each null
    // row appears, not just the final set.
    val HourUs = 3600000000L
    val full = Streaming.outerFixtureDir(spark, sfDir)
    val files = new java.io.File(full).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length === 3)
    val slices: IndexedSeq[Seq[(Long, Long, String, Long)]] = files.toIndexedSeq.map { f =>
      spark.read.parquet(f.getPath).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    }
    def model(n: Int): Map[(Long, Long, Long), Long] = {
      def floorMs(us: Long) = us / 1000 * 1000
      var wmP, wmV = Option.empty[Long]
      val wSeq = (0 until n).map { k =>
        val mp = slices(k).collect { case (_, _, "purchase", us) => us }
        val mv = slices(k).collect { case (_, _, "view", us) => us }
        if (mp.nonEmpty) wmP = Some(math.max(wmP.getOrElse(Long.MinValue), floorMs(mp.max) - HourUs))
        if (mv.nonEmpty) wmV = Some(math.max(wmV.getOrElse(Long.MinValue), floorMs(mv.max) - HourUs))
        for (a <- wmP; b <- wmV) yield math.min(a, b)
      }
      def w(i: Int): Option[Long] = if (i >= 0) wSeq(i) else None
      val pState = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)] // eid -> (uid, pts, matched)
      var vState = List.empty[(Long, Long)]
      val out = scala.collection.mutable.Map.empty[(Long, Long, Long), Long]
      def evict(wm: Option[Long]): Unit = wm.foreach { ew =>
        pState.filterInPlace { case (eid, (uid, pts, m)) =>
          if (pts < ew && m == 0) out((eid, uid, pts)) = 0L
          pts >= ew
        }
        vState = vState.filter(_._2 >= ew - HourUs)
      }
      for (k <- 0 until n) {
        val fw = w(k - 2)
        val pIn = slices(k).collect { case (eid, uid, "purchase", us)
          if fw.forall(us >= _) => (eid, uid, us) }
        val vIn = slices(k).collect { case (_, uid, "view", us)
          if fw.forall(us >= _ - HourUs) => (uid, us) }
        val oldP = pState.toMap
        pIn.foreach { case (eid, uid, pts) =>
          val m = (vState ++ vIn).count { case (vu, vts) =>
            vu == uid && vts >= pts - HourUs && vts <= pts }
          pState(eid) = (uid, pts, m.toLong)
          if (m > 0) out((eid, uid, pts)) = out.getOrElse((eid, uid, pts), 0L) + m
        }
        vIn.foreach { case (vu, vts) =>
          oldP.foreach { case (eid, (uid, pts, _)) =>
            if (pState.contains(eid) && uid == vu && vts >= pts - HourUs && vts <= pts) {
              val (u, p, m) = pState(eid)
              pState(eid) = (u, p, m + 1)
              out((eid, u, p)) = out.getOrElse((eid, u, p), 0L) + 1
            }
          }
        }
        vState ++= vIn
        evict(w(k - 1))
      }
      evict(w(n - 1))
      out.toMap
    }
    for (n <- 1 to 3) {
      val prefix = java.nio.file.Files.createTempDirectory(s"graft_sjo_prefix$n")
      files.take(n).foreach { f =>
        val t = prefix.resolve(f.getName)
        java.nio.file.Files.copy(f.toPath, t)
        t.toFile.setLastModified(f.lastModified())
      }
      val got = Streaming.runToMemory(
          Streaming.outerJoinStream(spark, prefix.toString),
          s"sjo_prefix${n}_mem",
          org.apache.spark.sql.streaming.OutputMode.Append())
        .groupBy("purchase_event", "user_id", "pts_us")
        .agg(sum(col("matched")).as("n_views"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      val want = model(n)
      assert(got.size === want.size, s"prefix $n: ${got.size} rows vs model ${want.size}")
      assert(got === want, s"prefix $n diverges from the timeline model")
      assert(got.values.exists(_ == 0L), s"prefix $n emitted no null rows")
      graft.Stage.deleteRecursively(prefix.toFile)
    }
    // the outer rows are genuinely watermark-gated: the full run
    // suppresses at least one unmatched purchase the watermark never
    // passed (it would appear in a plain batch left join)
    val m3 = model(3)
    val allP = slices.flatten.collect { case (eid, uid, "purchase", us) => (eid, uid, us) }
    assert(allP.exists(p => !m3.contains((p._1, p._2, p._3))),
      "every purchase was emitted — nothing left gated in state")
  }

  test("st_stream_join_full: purchase side equals the left-outer operator; view nulls are watermark-gated") {
    val full = Streaming.stStreamJoinFull(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // cross-operator invariant: the full join's purchase side must be
    // EXACTLY the left-outer operator's output (same fixture, same
    // timeline rules — full outer adds rows, never changes them)
    val pSide = full.filter(_._1 == "purchase")
      .map { case (_, e, u, t, n) => (e, u, t, n) }.toSet
    val leftOuter = Streaming.stStreamJoinOuter(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(pSide === leftOuter)
    // view nulls: present, and only for views the final watermark
    // passed by the extra hour of the range condition's reach
    val vSide = full.filter(_._1 == "view")
    assert(vSide.nonEmpty, "no view-side null rows emitted")
    val ev = Tables.events(spark, sfDir)
    val wm = ev.filter(col("event_type").isin("purchase", "view"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wFinal = math.min(wm("purchase") / 1000 * 1000, wm("view") / 1000 * 1000) - 3600000000L
    vSide.foreach { case (_, e, _, t, n) =>
      assert(n === 0L)
      assert(t < wFinal - 3600000000L,
        s"view $e null-emitted at $t though the watermark never passed vts + 1h")
    }
    // and every view-null is genuinely unmatched in the BATCH join
    // restricted to surviving purchases is too strong (met-rules drop
    // some pairs) — but a view with zero batch-join candidates at all
    // must certainly null-emit if the watermark passed it
    val vNullIds = vSide.map(_._2).toSet
    val candidates = ev.filter(col("event_type") === "view").as("v")
      .join(ev.filter(col("event_type") === "purchase").as("p"),
        col("v.user_id") === col("p.user_id")
          && unix_micros(col("v.ts")) >= unix_micros(col("p.ts")) - 3600000000L
          && unix_micros(col("v.ts")) <= unix_micros(col("p.ts")), "left_semi")
      .select(col("v.event_id")).collect().map(_.getLong(0)).toSet
    val w0 = {
      val m0 = ev.filter(col("event_type").isin("purchase", "view")
          && col("event_id") % 2 === 0)
        .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      math.min(m0("purchase") / 1000 * 1000, m0("view") / 1000 * 1000) - 3600000000L
    }
    val lonely = ev.filter(col("event_type") === "view")
      .select(col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (e, t) =>
        !candidates(e) && t < wFinal - 3600000000L &&
          // exclude views the batch-2 late filter dropped before the join
          !(e % 2 != 0 && e % 4 == 3 && t < w0 - 3600000000L)
      }
    lonely.foreach { case (e, _) =>
      assert(vNullIds(e), s"candidate-free view $e inside the watermark was not null-emitted")
    }
  }

  test("st_session_window: native sessions equal cumsum sessions the watermark passed") {
    val native = Streaming.stSessionWindow(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val gap = Streaming.SessionGapUs
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - 3600000L) * 1000
    val cumsum = Streaming.stSessionize(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4) + gap, r.getLong(2)))
      .filter(_._3 <= wmUs).sorted
    assert(native.toSeq === cumsum.toSeq)
    assert(native.nonEmpty)
  }

  test("st_upsert state equals the batch latest-per-user window") {
    import org.apache.spark.sql.expressions.Window
    val got = Streaming.stUpsert(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    val expected = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq === expected.toSeq)
  }

  test("st_upsert merge is bucket-pruned: a 1-key batch rewrites exactly one bucket, untouched files keep inodes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = "/tmp/graft_spec_upsert_prune"
    graft.Stage.deleteRecursively(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("us", LongType)))
    def df(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2), schema)
    // seed generation: one row per user across every bucket
    Streaming.upsertBatch(df((0L until 64L).map(u => (u, u, 1000L + u))), base, 0)
    // the 1-key microbatch: user 5 → bucket 5 only
    Streaming.upsertBatch(df(Seq((9001L, 5L, 999999L))), base, 1)
    def bucketFiles(gen: Int): Map[String, Set[AnyRef]] =
      new java.io.File(s"$base/gen$gen").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(b => b.getName -> b.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => java.nio.file.Files.readAttributes(f.toPath,
            classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey)
          .toSet)
        .toMap
    val f1 = bucketFiles(1)
    val f2 = bucketFiles(2)
    assert(f1.keySet === f2.keySet) // all 16 buckets survive the generation
    // exactly the touched bucket's files changed; every other bucket's
    // files are the SAME inodes (hard-linked, zero IO carried over)
    val changed = f1.keySet.filter(b => f1(b) != f2(b))
    assert(changed === Set(s"bucket=${5L % Streaming.UpsertBuckets}"))
    // and the merge itself is correct: user 5 upserted, neighbors intact
    val fin = spark.read.parquet(s"$base/gen2")
      .select("user_id", "event_id", "us").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fin(5L) === ((9001L, 999999L)))
    assert(fin(4L) === ((4L, 1004L)))
    assert(fin.size === 64)
  }

  test("st_scd2 chains equal the batch lead-window build over all events") {
    import org.apache.spark.sql.expressions.Window
    val got = Streaming.stScd2(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).sorted
    val w = Window.partitionBy("user_id").orderBy(col("valid_from_us"), col("event_id"))
    val expected = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).sorted
    assert(got.toSeq === expected.toSeq)
    assert(got.nonEmpty)
  }

  test("st_scd2 step is bucket-pruned and self-heals an out-of-order mid-chain insert") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = "/tmp/graft_spec_scd2_prune"
    graft.Stage.deleteRecursively(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("us", LongType)))
    def df(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2), schema)
    // seed: two versions per user at us=1000 and us=3000, all 64 users
    Streaming.scd2Batch(df((0L until 64L).flatMap(u =>
      Seq((u * 2, u, 1000L), (u * 2 + 1, u, 3000L)))), base, 0)
    // the out-of-order microbatch: user 5 gets a LATE version at us=2000
    Streaming.scd2Batch(df(Seq((9001L, 5L, 2000L))), base, 1)
    def bucketFiles(gen: Int): Map[String, Set[AnyRef]] =
      new java.io.File(s"$base/gen$gen").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(b => b.getName -> b.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => java.nio.file.Files.readAttributes(f.toPath,
            classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey)
          .toSet)
        .toMap
    val f1 = bucketFiles(1)
    val f2 = bucketFiles(2)
    assert(f1.keySet === f2.keySet)
    val changed = f1.keySet.filter(b => f1(b) != f2(b))
    assert(changed === Set(s"bucket=${5L % Streaming.UpsertBuckets}"))
    // the chain self-healed: 1000 → 2000 → 3000, one open version
    val chain = spark.read.parquet(s"$base/gen2")
      .filter(col("user_id") === 5L)
      .select("valid_from_us", "valid_to_us", "is_current").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2))).sorted
    assert(chain.toSeq === Seq((1000L, 2000L, false), (2000L, 3000L, false),
      (3000L, -1L, true)))
    // a neighbor in an untouched bucket kept its 2-version chain intact
    val neighbor = spark.read.parquet(s"$base/gen2")
      .filter(col("user_id") === 4L).count()
    assert(neighbor === 2L)
    // REPLAY idempotence: foreachBatch is at-least-once — re-delivering
    // the same batch must not duplicate versions or corrupt the chain
    Streaming.scd2Batch(df(Seq((9001L, 5L, 2000L))), base, 2)
    val replayed = spark.read.parquet(s"$base/gen3")
      .filter(col("user_id") === 5L)
      .select("valid_from_us", "valid_to_us", "is_current").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(2))).sorted
    assert(replayed.toSeq === chain.toSeq)
  }

  test("st_exactly_once: a replayed batch is a no-op; a doctored replay cannot overwrite the commit") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // end-to-end: the query itself replays its final batch — equality
    // with the batch twin proves the replay added nothing
    val got = Streaming.stExactlyOnce(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val expected = Tables.events(spark, sfDir)
      .groupBy(pmod(col("user_id"), lit(10)).as("cohort"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === expected.toSeq)
    // unit: a second delivery with DIFFERENT bytes must not win
    val base = "/tmp/graft_spec_eo"
    graft.Stage.deleteRecursively(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val schema = StructType(Seq(StructField("x", LongType)))
    def df(xs: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map(Row(_)), 1), schema)
    Streaming.idempotentSink(df(Seq(1L, 2L)), base, 0L)
    Streaming.idempotentSink(df(Seq(99L)), base, 0L) // replay, doctored
    val landed = Streaming.committedBatches(spark, base)
      .collect().map(_.getLong(0)).sorted
    assert(landed.toSeq === Seq(1L, 2L))
    // the doctored replay's staging tree was cleaned up, not leaked
    val leaks = new java.io.File(base).listFiles()
      .filter(f => f.getName.contains(".tmp") && f.isDirectory)
    assert(leaks.isEmpty, s"staging debris: ${leaks.mkString(",")}")
    // and the same commit discipline holds on the object-store seam
    graft.fs.FsOps.withFs(graft.fs.ObjectStoreFsOps) {
      val base2 = "/tmp/graft_spec_eo_objst"
      graft.Stage.deleteRecursively(new java.io.File(base2))
      new java.io.File(base2).mkdirs()
      Streaming.idempotentSink(df(Seq(3L, 4L)), base2, 7L)
      Streaming.idempotentSink(df(Seq(99L)), base2, 7L) // replay, doctored
      val landed2 = Streaming.committedBatches(spark, base2)
        .collect().map(_.getLong(0)).sorted
      assert(landed2.toSeq === Seq(3L, 4L))
      // committed by pointer: the logical name is a commit record only
      assert(new java.io.File(base2, "batch=7.ptr").isFile)
      assert(!new java.io.File(base2, "batch=7").isDirectory)
    }
  }

  test("m_shard_read: every sample round-trips; the verifier catches a corrupted byte") {
    val got = Multimodal.mShardRead(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (shard, n, nOk, bytes) =>
      assert(n === nOk, s"shard $shard: $nOk of $n verified")
      assert(bytes > 0)
    }
    val totalDocs = Tables.documents(spark, sfDir).count()
    assert(got.map(_._2).sum === totalDocs)
    // negative control: corrupt ONE byte of one member's payload in a
    // hand-built blob — the sha verify must fail for exactly that slice
    import spark.implicits._
    val parts = Seq("alpha", "bravo", "charlie").map(_.getBytes("UTF-8"))
    val blob = parts.reduce(_ ++ _)
    val corrupted = blob.clone(); corrupted(parts(0).length) = 'X'.toByte // first byte of "bravo"
    val offs = parts.scanLeft(0)(_ + _.length)
    val rows = parts.zipWithIndex.map { case (p, i) => (i, offs(i), p.length, p) }
    val df = rows.toDF("i", "off", "len", "payload")
      .withColumn("blob", lit(corrupted))
      .select(col("i"),
        (sha2(expr("substring(blob, off + 1, len)"), 256) ===
          sha2(col("payload"), 256)).as("ok"))
      .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    assert(df === Map(0 -> true, 1 -> false, 2 -> true))
  }

  test("m_dedup_phash: banding finds exactly the all-pairs hamming<=3 set; twins at 0") {
    def bands(id: Long, shift: Int): Seq[Int] = {
      val (w, h) = Multimodal.pngDims(id)
      val samp = (0 until 64).map { k =>
        math.min(Multimodal.phashPixel(id, (k % 8) * w / 8, (k / 8) * h / 8) + shift, 255) }
      val s = samp.sum
      (0 until 4).map(b => (0 until 16).map(j =>
        if (64 * samp(b * 16 + j) >= s) 1 << j else 0).sum)
    }
    val ids = Tables.documents(spark, sfDir).select("doc_id").collect().map(_.getLong(0))
    val all = ids.map(i => i -> bands(i, 0)).toMap ++
      ids.filter(_ % 7 == 0).map(i => (i + 1000000L) -> bands(i, 3)).toMap
    def ham(a: Seq[Int], b: Seq[Int]) =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y) }.sum
    val keys = all.keys.toSeq.sorted
    val expected = (for {
      i <- keys.indices; j <- i + 1 until keys.length
      d = ham(all(keys(i)), all(keys(j))) if d <= 3
    } yield (keys(i), keys(j), d)).toSet
    val got = Multimodal.mDedupPhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expected)
    // brightness invariance: every planted twin surfaces at distance 0
    ids.filter(_ % 7 == 0).foreach { i =>
      assert(got.contains((i, i + 1000000L, 0)), s"twin of $i missing") }
  }

  test("phash multiprobe: exact recall at hamming<=3, linear candidates on low-entropy hashes") {
    import spark.implicits._
    // low-entropy population: band values drawn from a tiny space, so
    // 16-bit band EQUALITY collides massively while 32-bit+multiprobe
    // buckets stay near-singleton (the near-constant-raster corpus the
    // r9 fixture lesson warned about)
    val n = 300
    val rnd = new scala.util.Random(42)
    val rows = (0 until n).map { i =>
      def b() = (rnd.nextInt(12) * 5419) & 0xFFFF // ~12 distinct values/band
      (i.toLong, b(), b(), b(), b())
    }
    val hashes = rows.toDF("doc_id", "b0", "b1", "b2", "b3")
    val wide = Multimodal.phashCandidates(hashes).count()
    val narrow = Multimodal.phashCandidatesNarrow(hashes).count()
    // exact recall: multiprobe candidates must contain every qualifying pair
    def ham(a: (Long, Int, Int, Int, Int), b: (Long, Int, Int, Int, Int)) =
      Integer.bitCount(a._2 ^ b._2) + Integer.bitCount(a._3 ^ b._3) +
        Integer.bitCount(a._4 ^ b._4) + Integer.bitCount(a._5 ^ b._5)
    val qualifying = (for {
      i <- rows.indices; j <- i + 1 until n
      if ham(rows(i), rows(j)) <= 3
    } yield (rows(i)._1, rows(j)._1)).toSet
    val wideSet = Multimodal.phashCandidates(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(qualifying.subsetOf(wideSet),
      s"multiprobe missed ${(qualifying -- wideSet).size} qualifying pairs")
    // economics: narrow-band equality collapses to near-all-pairs here;
    // the wide multiprobe stays an order of magnitude below it
    assert(narrow > (n.toLong * (n - 1) / 2) / 4,
      s"fixture drifted: narrow banding produced only $narrow candidates")
    assert(wide * 10 <= narrow,
      s"multiprobe candidates ($wide) not <= 10% of narrow banding ($narrow)")
  }

  test("st_observe: telemetry covers the whole backlog, batch by batch") {
    val obs = Streaming.stObserve(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(obs.keySet === Set(0L, 1L, 2L))
    assert(obs.values.sum === Tables.events(spark, sfDir).count(),
      "per-batch input rows must sum to the full backlog")
  }

  test("m_shard_shuffle: per-epoch permutation, epochs differ, deterministic") {
    val rows = Multimodal.mShardShuffle(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = Tables.documents(spark, sfDir).count()
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet === Set(0, 1))
    byEpoch.foreach { case (e, rs) =>
      // positions are exactly 0..N-1 (a permutation)
      assert(rs.map(_._2).sorted.toSeq === (0L until n), s"epoch $e positions")
      // every doc appears exactly once
      assert(rs.map(_._4).distinct.length === n.toInt, s"epoch $e docs")
    }
    // the epoch seed genuinely permutes: order differs between epochs
    val order0 = byEpoch(0).sortBy(_._2).map(_._4).toSeq
    val order1 = byEpoch(1).sortBy(_._2).map(_._4).toSeq
    assert(order0 !== order1, "epoch orders identical — seed not applied")
    // and a re-run reproduces the same order bit-for-bit
    val again = Multimodal.mShardShuffle(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.sortBy(t => (t._1, t._2)).toSeq === rows.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("funnel state machine is batch-boundary-invariant on in-order chunkings") {
    val d0 = 1700000000000000L
    val day = 86400000000L
    // an eventful user: dup stages, an expired-window candidate, ties
    val evs = Seq(
      (d0, 1L, "view"), (d0 + 1, 2L, "signup"), (d0 + 1, 3L, "view"),
      (d0 + 2, 4L, "signup"), (d0 + day, 5L, "click"),
      (d0 + 2 * day, 6L, "view"), (d0 + 2 * day + 1, 7L, "click"),
      (d0 + 3 * day, 8L, "purchase"), (d0 + 3 * day + 2, 9L, "purchase"))
    val init = graft.streaming.Streaming.FunnelState(0, -1L, -1L, 0L)
    val (oneShotState, oneShotHits) =
      graft.streaming.Streaming.funnelStep(init, evs)
    // every contiguous chunking folds to the same state and hit stream
    Seq(Seq(1, 8), Seq(3, 3, 3), Seq(2, 2, 2, 2, 1), evs.indices.map(_ => 1)).foreach { sizes =>
      var rest = evs
      var st = init
      var hits = Seq.empty[Int]
      sizes.foreach { n =>
        val (chunk, tail) = rest.splitAt(n)
        val (st2, h) = graft.streaming.Streaming.funnelStep(st, chunk)
        st = st2; hits = hits ++ h; rest = tail
      }
      val (stFin, hFin) = graft.streaming.Streaming.funnelStep(st, rest)
      assert(stFin === oneShotState, s"state diverged for chunking $sizes")
      assert((hits ++ hFin) === oneShotHits, s"hits diverged for chunking $sizes")
    }
  }

  test("st_funnel: stateful stream walk equals the batch funnel exactly") {
    val stream = Streaming.stFunnel(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.queries.Behavior.qFunnel(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stream === batch)
    assert(stream.values.sum > 0)
  }

  test("st_chained_agg: closed windows match the batch twin, open ones never leak") {
    val got = Streaming.stChainedAgg(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.nonEmpty)
    // all starts hour-aligned; every window closed under the watermark
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - 3600000L) * 1000
    got.keys.foreach { ws =>
      assert(ws % 3600000000L === 0L)
      assert(ws + 3600000000L <= wmUs, s"open window $ws leaked into append output")
    }
    // batch twin computed in Spark (the oracle recomputes it in DuckDB)
    val batch = Tables.events(spark, sfDir)
      .select((unix_micros(col("ts")).cast("long") / lit(3600000000L)).cast("long")
        .multiply(3600000000L).as("ws_us"), col("user_id"))
      .groupBy("ws_us", "user_id").agg(count(lit(1)).as("cnt"))
      .groupBy("ws_us").agg(max("cnt").as("max_cnt"), count(lit(1)).as("n_users"))
      .filter(col("ws_us") + 3600000000L <= wmUs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === batch)
  }

  test("st_anomaly: closed windows match the batch twin, z math IEEE-exact") {
    val got = Streaming.stAnomaly(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got.nonEmpty)
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - 3600000L) * 1000
    val DayUs = 86400000000L
    got.keys.foreach { ws =>
      assert(ws % DayUs === 0L)
      assert(ws + DayUs <= wmUs, s"open window $ws leaked into append output")
    }
    // batch twin with the SAME column expressions (identical codegen →
    // identical doubles; div and sqrt are IEEE-exact, no tolerance)
    val agg = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy(((unix_micros(col("ts")) / lit(DayUs)).cast("long") * DayUs).as("ws_us"))
      .agg(count(lit(1)).as("n"), sum("cents").as("s"),
        sum(col("cents") * col("cents")).as("sq"), max("cents").as("mx"))
    val nD = col("n").cast("double")
    val mean = col("s").cast("double") / nD
    val variance = greatest(
      (col("sq").cast("double") - col("s").cast("double") * col("s").cast("double") / nD) / nD,
      lit(0.0))
    val z = when(sqrt(variance) > 0.0,
      (col("mx").cast("double") - mean) / sqrt(variance)).otherwise(lit(0.0))
    val exp = agg
      .filter(col("ws_us") + DayUs <= wmUs)
      .select(col("ws_us"), col("n"), col("mx"), round(mean, 4), round(z, 4), z > 3.0)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got === exp)
  }

  test("st_drift: closed windows match the batch PSI twin, open ones never leak") {
    val got = Streaming.stDrift(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.nonEmpty)
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - 3600000L) * 1000
    val DayUs = 86400000000L
    got.keys.foreach { ws =>
      assert(ws % DayUs === 0L)
      assert(ws + DayUs <= wmUs, s"open window $ws leaked into append output")
    }
    // batch twin: per-closed-window bucket counts folded against the
    // SAME epoch-A baseline, fixed-point floor replicated in Scala
    // (the fold is order-free long addition — exact on both paths)
    val base = Streaming.driftBaseline(spark, sfDir)
    val nbk = base.length.toDouble
    val rows = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(((unix_micros(col("ts")) / lit(DayUs)).cast("long") * DayUs).as("ws_us"),
        expr("CAST(FLOOR(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) / 10000.0) AS BIGINT)").as("bucket"))
      .groupBy("ws_us", "bucket").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exp = rows.groupBy(_._1)
      .filter { case (ws, _) => ws + DayUs <= wmUs }
      .map { case (ws, rs) =>
        val m = rs.map(r => r._2 -> r._3).toMap
        val n = rs.map(_._3).sum
        val fx = base.map { case (b, pa) =>
          val pw = (m.getOrElse(b, 0L).toDouble + 1.0) / (n.toDouble + nbk)
          math.floor((pa - pw) * math.log(pa / pw) * 100000000 + 0.5).toLong
        }.sum
        ws -> ((n, fx.toDouble / 100000000.0))
      }
    assert(got === exp)
  }

  test("st_hll: estimates certified against exact per closed day window") {
    val got = Streaming.stHll(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - 3600000L) * 1000
    val DayUs = 86400000000L
    got.foreach { case (ws, _, _, ratio) =>
      assert(ws % DayUs === 0L)
      assert(ws + DayUs <= wmUs, s"open window $ws leaked into append output")
      assert(ratio === 1.0, s"window $ws sketch drifted outside the 1dp gate")
    }
    // exact counts match the batch twin
    val batch = Tables.events(spark, sfDir)
      .select((unix_micros(col("ts")) / lit(DayUs)).cast("long")
        .multiply(DayUs).as("ws_us"), col("event_type"), col("user_id"))
      .groupBy("ws_us", "event_type")
      .agg(countDistinct("user_id").as("n"))
      .filter(col("ws_us") + DayUs <= wmUs)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.map(g => (g._1, g._2) -> g._3).toMap === batch)
  }

  test("st_topk: heap agg inside streaming matches the full-sort batch twin") {
    val got = Streaming.stTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000 - 3600000L) * 1000
    val DayUs = 86400000000L
    got.groupBy(_._1).foreach { case (ws, rs) =>
      assert(ws % DayUs === 0L && ws + DayUs <= wmUs, s"window $ws")
      assert(rs.map(_._2).sorted.toSeq === (1 to rs.length) && rs.length <= 3)
    }
    val batch = Tables.events(spark, sfDir)
      .select((unix_micros(col("ts")) / lit(DayUs)).cast("long")
        .multiply(DayUs).as("ws_us"), col("user_id"))
      .groupBy("ws_us", "user_id").agg(count(lit(1)).as("cnt"))
      .filter(col("ws_us") + DayUs <= wmUs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (ws, xs) =>
        xs.sortBy(x => (-x._3, x._2)).take(3).zipWithIndex
          .map { case ((_, u, c), i) => (ws, i + 1, u, c) }
      }.toSet
    assert(got.toSet === batch)
  }

  test("st_pit: online serving equals the offline training-set build; step is ts-chunking-invariant") {
    import graft.streaming.Streaming.{pitStep, PitState}
    // offline/online parity: identical rows to q_pit_join
    val online = Streaming.stPit(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val offline = graft.queries.Temporal.qPitJoin(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(online === offline)
    assert(online.nonEmpty)
    // ts-ordered chunking invariance: any split of an ordered event
    // sequence folds to the same state and the same emissions
    val evs = Seq(
      (10L, 1L, "click", 0.0), (10L, 2L, "view", 3.33), (10L, 3L, "purchase", 9.0),
      (20L, 4L, "view", 1.11), (25L, 5L, "click", 0.0), (25L, 6L, "purchase", 5.0),
      (30L, 7L, "purchase", 1.0))
    val (wholeSt, wholeOut) = pitStep(PitState(0, 0), evs)
    for (cut <- 0 to evs.length) {
      val (a, b) = evs.splitAt(cut)
      val (s1, o1) = pitStep(PitState(0, 0), a)
      val (s2, o2) = pitStep(s1, b)
      assert(s2 === wholeSt && (o1 ++ o2) === wholeOut, s"cut at $cut")
    }
    // the tie law: a view at the purchase's exact timestamp counts
    val (_, out) = pitStep(PitState(0, 0),
      Seq((50L, 1L, "view", 2.0), (50L, 2L, "purchase", 1.0)))
    assert(out.head.spend_before === 2.0)
  }

  test("st_transform_state: spendStep is chunking-invariant and matches the batch twin") {
    import graft.streaming.Streaming.{spendStep, SpendState}
    // any re-chunking of the same value sequence folds to the same
    // state (the batch-boundary-invariance transformWithState relies on)
    val vals = Seq(500L, 100L, 900L, 900L, 50L, 300L, 700L)
    val whole = spendStep(SpendState(0L, 0L, Nil), vals.iterator)
    for (cut1 <- 0 to vals.length; cut2 <- cut1 to vals.length) {
      val (a, rest) = vals.splitAt(cut1)
      val (b, c) = rest.splitAt(cut2 - cut1)
      val folded = Seq(a, b, c).foldLeft(SpendState(0L, 0L, Nil)) {
        (st, chunk) => spendStep(st, chunk.iterator)
      }
      assert(folded === whole, s"chunking at ($cut1, $cut2) diverged")
    }
    assert(whole.n === 7L && whole.cents === vals.sum)
    assert(whole.top === Seq(900L, 900L, 700L)) // multiset: dup kept
    // the drained streaming query agrees with the batch aggregate
    val streamed = Streaming.stTransformState(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("cents").desc, col("event_id"))
    val batch = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        (col("value").cast(graft.queries.QueryDef.Money) * 100).cast("long").as("cents"))
      .withColumn("rk", row_number().over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"),
        sum(when(col("rk") <= 3, col("cents")).otherwise(0L)).as("t3"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("st_funnel under RocksDBStateStoreProvider: identical output to the default store") {
    // the 100 TB story: flatMapGroupsWithState keyed by every user does
    // not fit an executor heap under the HDFS-backed in-memory store;
    // RocksDB spills state to local disk with the same exactly-once
    // semantics. Provider is captured at query start (fresh temp
    // checkpoint per run, so no provider-mismatch against a prior one).
    val rocks = Streaming.withRocksDb(spark)(Streaming.stFunnel(spark, sfDir).collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.queries.Behavior.qFunnel(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rocks === batch)
    assert(rocks.values.sum > 0)
  }

  test("upsert merge plan: partial max_by below one exchange, no Window") {
    import spark.implicits._
    val merged = Seq((1L, 10L, 100L, 1), (1L, 11L, 200L, 1), (2L, 12L, 150L, 2))
      .toDF("user_id", "event_id", "us", "bucket")
    val out = Streaming.upsertMergePlan(merged)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 11L), (2L, 12L)))
    // The scale contract vs the row_number window this replaced: the
    // window shuffled EVERY touched-state row then sorted; max_by
    // PARTIAL-aggregates map-side, so at most one candidate per key
    // crosses the (single) exchange. Struct-buffered max_by planes as
    // SortAggregate (hash agg needs fixed-width buffers), so local
    // per-partition key sorts remain — but they sort the already
    // per-task data, never a full shuffle of state. (r17: the
    // ObjectHashAggregate alternative was implemented and measured
    // slower — its 128-key sort fallback; see Snapshot.latestByKey.)
    // AQE prints Final + Initial sections; assert on the final one only
    val full = out.queryExecution.executedPlan.toString
    val plan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    assert(plan.contains("partial_max_by"),
      s"expected a map-side partial max_by in:\n$plan")
    assert(!plan.contains("Window"), s"window survived in the merge plan:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges:\n$plan")
    // the partial aggregate must sit BELOW the exchange (map-side)
    val partialIdx = plan.indexOf("partial_max_by")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx > exchangeIdx,
      "partial aggregate should appear under the exchange in the plan tree")
  }

  test("st_vector_index: streamed postings answer queries identically to the batch-built index") {
    val got = Streaming.stVectorIndex(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Ann.sAnnIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === batch)
    assert(got.nonEmpty)
    // append-only accumulation: at least one data file per microbatch
    // survives under the cell dirs (batch 2 never rewrote batch 0's)
    val base = new java.io.File(s"/tmp/graft_stream_vecidx_${graft.Stage.sourceFingerprint(sfDir, "embeddings")}")
    def parquets(f: java.io.File): Array[java.io.File] = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.filter(_.isDirectory).flatMap(parquets) ++
        kids.filter(_.getName.endsWith(".parquet"))
    }
    assert(parquets(base).length >= 3, "postings must accumulate per-batch files")
  }

  test("st_mv_maintain: every intermediate generation equals the batch prefix aggregate") {
    import graft.queries.QueryDef.dec
    val result = Streaming.stMvMaintain(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val full = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(sum(dec(col("event_id"))).cast("double").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(result === full)
    // incremental invariant: generation k = aggregate of the first k
    // backlog slices (the merge is prefix-exact, not just final-exact)
    val base = s"/tmp/graft_stream_mv_${graft.Stage.sourceFingerprint(sfDir, "events")}"
    val fixture = Streaming.lateFixtureDir(spark, sfDir)
    val files = new java.io.File(fixture).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    (1 to files.length).foreach { k =>
      val prefix = files.take(k).map(f => spark.read.parquet(f.getPath))
        .reduce(_ unionByName _)
        .groupBy("user_id")
        .agg(sum(dec(col("event_id"))).cast("decimal(28,2)").as("mv_sum_id"),
          count(lit(1)).as("mv_n"))
        .collect().map(r => (r.getLong(0), r.getDecimal(1), r.getLong(2))).toSet
      val genK = spark.read.parquet(s"$base/gen$k")
        .collect().map(r => (r.getLong(0), r.getDecimal(1), r.getLong(2))).toSet
      assert(genK === prefix, s"generation $k diverges from its prefix aggregate")
    }
  }

  test("bucket pruning pays: a narrow batch rewrites a bounded fraction of state BYTES") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = "/tmp/graft_spec_prune_econ"
    graft.Stage.deleteRecursively(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("us", LongType)))
    def df(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 4), schema)
    // seed: 4096 keys spread over all 16 buckets
    Streaming.upsertBatch(df((0L until 4096L).map(u => (u, u, 1000L + u))), base, 0)
    def files(gen: Int): Map[AnyRef, Long] =
      new java.io.File(s"$base/gen$gen").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet")))
        .map(f => java.nio.file.Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey -> f.length())
        .toMap
    val before = files(1)
    // narrow batch: 8 keys confined to 2 of the 16 buckets
    Streaming.upsertBatch(df(Seq(3L, 7L, 19L, 23L, 35L, 39L, 51L, 55L)
      .map(u => (900000L + u, u, 999999L))), base, 1)
    val after = files(2)
    val rewrittenBytes = after.collect {
      case (k, sz) if !before.contains(k) => sz }.sum
    val totalBytes = after.values.sum
    // O(touched buckets), not O(state): 2/16 of the buckets were
    // touched, so rewritten bytes must be a small fraction of state
    assert(rewrittenBytes.toDouble / totalBytes < 0.25,
      s"narrow batch rewrote $rewrittenBytes of $totalBytes bytes")
    // and most files carried as the same inodes
    val carried = after.keySet.intersect(before.keySet)
    assert(carried.size.toDouble / after.size > 0.7,
      s"only ${carried.size} of ${after.size} files carried")
  }

  test("p_vacuum: hard-linked carry-over survives the unlink; superseded gens are gone") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = "/tmp/graft_spec_vacuum"
    graft.Stage.deleteRecursively(new java.io.File(base))
    new java.io.File(base).mkdirs()
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("us", LongType)))
    def df(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3)), 2), schema)
    Streaming.upsertBatch(df((0L until 64L).map(u => (u, u, 1000L + u))), base, 0)
    // single-key batch: gen2 hard-links 15 of 16 buckets from gen1
    Streaming.upsertBatch(df(Seq((9001L, 5L, 999999L))), base, 1)
    def fileKeys(gen: Int): Map[String, AnyRef] =
      new java.io.File(s"$base/gen$gen").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .flatMap(b => b.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${b.getName}/${f.getName}" ->
            java.nio.file.Files.readAttributes(f.toPath,
              classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey))
        .toMap
    val keysBefore = fileKeys(2)
    val expected = spark.read.parquet(s"$base/gen2")
      .select("user_id", "event_id", "us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val removed = Streaming.vacuumGenerations(base, keep = 1)
    assert(removed.toSet === Set("gen1"))
    assert(!new java.io.File(s"$base/gen1").exists())
    // the kept generation: same inodes, same bytes, same rows
    assert(fileKeys(2) === keysBefore)
    val after = spark.read.parquet(s"$base/gen2")
      .select("user_id", "event_id", "us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(after.toSeq === expected.toSeq)
    assert(after.length === 64)
  }

  test("st_ingest: malformed envelopes land in the dead-letter output mid-stream, every batch") {
    val result = Streaming.stIngest(spark, sfDir)
    val deadRow = result.filter(col("status") === "dead_letter").head()
    val expectedDead = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 0).count()
    assert(deadRow.getLong(1) === expectedDead)
    // the stream ran 3 microbatches; EVERY one quarantined its own
    // malformed lines and kept draining — the quarantine-and-continue
    // contract, exercised mid-stream rather than only at start-up
    val base = s"/tmp/graft_stream_ingest_out_${graft.Stage.sourceFingerprint(sfDir, "documents")}"
    val deadBatches = new java.io.File(s"$base/dead").listFiles()
      .filter(_.isDirectory).sortBy(_.getName)
    assert(deadBatches.length === 3)
    val perBatch = deadBatches.map(b => spark.read.text(b.getPath).count())
    assert(perBatch.forall(_ > 0), s"dead letters per batch: ${perBatch.toSeq}")
    assert(perBatch.sum === expectedDead)
    // dead letters keep their raw (truncated, unparseable) line — the
    // re-ingestion contract: parse flags them malformed again
    val requarantined = graft.pipeline.Ingest.malformedLines(
      spark.read.option("recursiveFileLookup", "true").text(s"$base/dead"))
    assert(requarantined.count() === expectedDead)
  }

  test("streaming conf pins are scoped: the session value survives, rows unchanged") {
    // each query pins a conf it relies on (st_ingest: sortBeforeRepartition;
    // every drained query: noDataMicroBatches) and must hand the
    // session's own value back once the stream has drained
    val cases: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, String)] = Seq(
      ("st_ingest", Streaming.stIngest, "spark.sql.execution.sortBeforeRepartition"),
      ("st_stale_users", Streaming.stStaleUsers,
        "spark.sql.streaming.noDataMicroBatches.enabled"))
    cases.foreach { case (name, query, key) =>
      def rows(): Seq[String] = query(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val pinned = graft.Stage.withConf(spark, key -> "true")(rows())
      graft.Stage.withConf(spark, key -> "false") {
        val scoped = rows()
        assert(spark.conf.get(key) === "false", s"$name leaked its $key pin into the session")
        assert(scoped === pinned, s"$name rows changed")
      }
    }
  }

  test("checkpoint recovery: a restarted query resumes where it stopped, nothing reprocessed") {
    import java.io.File
    import org.apache.spark.sql.functions.col
    val base = new File("/tmp/graft_ckpt_spec"); graft.Stage.deleteRecursively(base)
    val src = new File(base, "src"); src.mkdirs()
    val out = new File(base, "out").getPath
    val ckpt = new File(base, "ckpt").getPath
    val docs = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    def slice(i: Int, pred: org.apache.spark.sql.Column): File = {
      val stage = new File(base, s"stage$i")
      docs.filter(pred).coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      val tgt = new File(base, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      graft.Stage.deleteRecursively(stage); tgt
    }
    val parts = Seq(slice(0, col("doc_id") < cuts(0)),
      slice(1, col("doc_id") >= cuts(0) && col("doc_id") < cuts(1)),
      slice(2, col("doc_id") >= cuts(1)))
    def copyIn(f: File): Unit =
      java.nio.file.Files.copy(f.toPath, new File(src, f.getName).toPath)
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src.getPath)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1 sees two files, drains, stops (a planned shutdown)
    copyIn(parts(0)); copyIn(parts(1)); run()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst === docs.filter(col("doc_id") < cuts(1)).count())
    // a new file lands while the query is DOWN; the restart shares the
    // checkpoint, so it must pick up file 3 and only file 3
    copyIn(parts(2)); run()
    val counts = spark.read.parquet(out).groupBy("doc_id").count().collect()
    assert(counts.forall(_.getLong(1) == 1L),
      "restart reprocessed data the checkpoint had already committed")
    assert(counts.length.toLong === ids.length, "restart lost the file that arrived downtime")
    graft.Stage.deleteRecursively(base)
  }

  test("generational-state restart: killed mid-stream, resumed from checkpoint — identical state under both seams") {
    import java.io.File
    import org.apache.spark.sql.DataFrame
    val dir = Streaming.lateFixtureDir(spark, sfDir)
    val nFiles = new File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 3, "fixture must have enough batches to crash mid-stream")
    def readGen(base: String, gen: Int): DataFrame =
      spark.read.parquet(graft.Stage.resolved(
        new File(s"$base/gen$gen")).getPath)
    // (name, step, read, batchKeyed): the idempotent steps re-apply the
    // replayed batch into ONE extra equal generation; the batchId-keyed
    // MV merge SKIPS the replay, so its generation count stays nFiles
    val cases: Seq[(String, (DataFrame, String, Int) => Unit,
        (String, Int) => DataFrame, Boolean)] = Seq(
      ("upsert", Streaming.upsertBatch _,
        (base: String, gen: Int) => readGen(base, gen)
          .select(col("user_id"), col("event_id").as("last_event_id"), col("us")),
        false),
      ("scd2", Streaming.scd2Batch _,
        (base: String, gen: Int) => readGen(base, gen)
          .select(col("user_id"), col("event_id"), col("valid_from_us"),
            col("valid_to_us"), col("is_current")),
        false),
      ("mv", Streaming.mvMaintainStep _,
        (base: String, gen: Int) => readGen(base, gen)
          .select(col("user_id"), col("mv_sum_id"), col("mv_n")),
        true))
    // the uninterrupted truth: registered oracle-gated queries for the
    // idempotent pair; a fresh uncheckpointed drain for the MV merge
    val mvBaseline = {
      val b = "/tmp/graft_restart_mv_baseline"
      graft.Stage.deleteRecursively(new File(b)); new File(b).mkdirs()
      val g = Streaming.driveGenerations(spark, dir, b, None,
        Streaming.mvMaintainStep, batchKeyed = true)
      val rows = readGen(b, g).select(col("user_id"), col("mv_sum_id"), col("mv_n"))
        .collect().map(_.toString).sorted.toSeq
      graft.Stage.deleteRecursively(new File(b))
      rows
    }
    val baseline = Map(
      "upsert" -> SparkEntry.queries("st_upsert")(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq,
      "scd2" -> SparkEntry.queries("st_scd2")(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq,
      "mv" -> mvBaseline)
    Seq[graft.fs.FsOps](graft.fs.PosixFsOps, graft.fs.ObjectStoreFsOps).foreach { impl =>
      graft.fs.FsOps.withFs(impl) {
        cases.foreach { case (name, step, read, batchKeyed) =>
          val base = s"/tmp/graft_restart_${name}_${impl.name}"
          val cp = base + "_cp"
          Seq(base, cp).foreach(p => graft.Stage.deleteRecursively(new File(p)))
          new File(base).mkdirs()
          // leg 1: die AFTER applying batch 1 but BEFORE its checkpoint
          // commit — the real at-least-once crash window, driven for
          // real through the production microbatch body
          val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
            Streaming.driveGenerations(spark, dir, base, Some(cp), step,
              id => if (id == 1)
                throw new RuntimeException(s"injected crash after batch $id"),
              batchKeyed = batchKeyed)
          }
          assert(Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
            .contains("injected crash"), s"unexpected failure: $ex")
          // torn-generation guard: a crash can leave a marker-less gen
          // dir behind — the resume scan must never adopt it as state
          // (if it did, numbering would jump and the assert below fires)
          new File(base, "gen9").mkdirs()
          // leg 2: restart against the SAME checkpoint and state root
          val gen = Streaming.driveGenerations(spark, dir, base, Some(cp), step,
            batchKeyed = batchKeyed)
          // batch 0 was checkpoint-committed and is NOT reprocessed;
          // batch 1 is RE-DELIVERED — one extra equal generation for
          // the idempotent steps, a publish-once SKIP for batchKeyed
          val expectGens = if (batchKeyed) nFiles else nFiles + 1
          assert(gen === expectGens,
            s"$name/${impl.name}: expected $expectGens generations, got $gen")
          val got = read(base, gen).collect().map(_.toString).sorted.toSeq
          assert(got === baseline(name),
            s"$name/${impl.name}: restarted state diverged from the uninterrupted run")
          Seq(base, cp).foreach(p => graft.Stage.deleteRecursively(new File(p)))
        }
      }
    }
  }

  test("stateful-op restart: stopped between batches, resumed from checkpoint+state root — output identical") {
    // Kill-and-resume proof for the IN-SPARK stateful operators (the
    // generational-state test above covers the seam-published ones):
    // chained event-time aggs, the HLL sketch agg, the topk_rows
    // TypedImperativeAggregate (its heap state must round-trip the
    // state store across a restart), flatMapGroupsWithState (st_pit's
    // two-longs-per-user machine) and transformWithState (RocksDB
    // provider). Protocol per op: leg A drains all 3 ts-ordered files
    // uninterrupted (one file per trigger); leg B drains files 0-1,
    // STOPS (query terminates, state only in checkpoint + state root),
    // file 2 lands, a NEW query resumes from the SAME checkpoint.
    // The appended foreachBatch logs must match row-for-row — watermark
    // sequence, closed-window emissions and restored per-key state all
    // have to survive the restart for that to hold.
    import java.io.File
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val root = new File(s"/tmp/graft_restart_stateful_${graft.Stage.sourceFingerprint(sfDir, "events")}")
    graft.Stage.deleteRecursively(root)
    root.mkdirs()
    // 3 contiguous ts-ordered slices carrying the full event schema
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
    val n = ev.count()
    val ranked = ev.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))))
    val slices = new File(root, "slices"); slices.mkdirs()
    (0 to 2).foreach { i =>
      val lo = i * n / 3; val hi = if (i == 2) n else (i + 1) * n / 3
      val stage = new File(root, s"stage$i")
      ranked.filter(col("rn") > lo && col("rn") <= hi).drop("rn")
        .coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      val target = new File(slices, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, target.toPath)
      target.setLastModified(1600000000000L + i * 60000L)
      graft.Stage.deleteRecursively(stage)
    }
    val sch = spark.read.parquet(s"${slices.getPath}/b0.parquet").schema
    def stream(dir: String): DataFrame =
      spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(dir)
    def drain(df: DataFrame, mode: OutputMode, out: String, cp: String): Unit =
      graft.Stage.withConf(spark,
          "spark.sql.shuffle.partitions" -> Streaming.StatePartitions.toString) {
        df.writeStream
          .foreachBatch((b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(out))
          .outputMode(mode)
          .option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
    def copy(src: File, dstDir: File): Unit = {
      val dst = new File(dstDir, src.getName)
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(src.lastModified)
    }
    // drift's baseline is a bounded batch-side model — computed once
    // here exactly as stDrift computes it, then embedded in each leg's
    // plan (the restart must preserve the windowed state UNDER a
    // baseline-literal-bearing projection)
    val driftBase = Streaming.driftBaseline(spark, sfDir)
    val cases: Seq[(String, DataFrame => DataFrame, OutputMode, Boolean)] = Seq(
      ("chained_agg", Streaming.chainedAggTransform _, OutputMode.Append(), false),
      ("hll", Streaming.hllTransform _, OutputMode.Append(), false),
      ("topk", Streaming.topkTransform _, OutputMode.Append(), false),
      ("anomaly", Streaming.anomalyTransform _, OutputMode.Append(), false),
      ("drift", (df: DataFrame) => Streaming.driftTransform(df, driftBase),
        OutputMode.Append(), false),
      ("markov", Streaming.markovTransform _, OutputMode.Update(), false),
      ("ab_test", Streaming.abTestTransform _, OutputMode.Update(), false),
      ("stale", Streaming.staleTransform _, OutputMode.Append(), false),
      ("pit", Streaming.pitTransform _, OutputMode.Update(), false),
      ("transform_state", Streaming.spendTransform _, OutputMode.Update(), true))
    cases.foreach { case (name, tf, mode, rocks) =>
      def leg(body: => Unit): Unit =
        if (rocks) Streaming.withRocksDb(spark)(body) else body
      val base = new File(root, name); base.mkdirs()
      val full = new File(base, "full"); full.mkdirs()
      slices.listFiles().foreach(copy(_, full))
      val outA = s"$base/outA"
      leg(drain(tf(stream(full.getPath)), mode, outA, s"$base/cpA"))
      // interrupted leg: only b0+b1 visible, drain to a STOPPED query…
      val landing = new File(base, "landing"); landing.mkdirs()
      Seq("b0.parquet", "b1.parquet").foreach(f => copy(new File(slices, f), landing))
      val outB = s"$base/outB"
      leg(drain(tf(stream(landing.getPath)), mode, outB, s"$base/cpB"))
      // …then b2 lands and a fresh query resumes from the same
      // checkpoint and state root
      copy(new File(slices, "b2.parquet"), landing)
      leg(drain(tf(stream(landing.getPath)), mode, outB, s"$base/cpB"))
      val a = spark.read.parquet(outA).collect().map(_.toString).sorted.toSeq
      val b = spark.read.parquet(outB).collect().map(_.toString).sorted.toSeq
      assert(a.nonEmpty, s"$name: uninterrupted run emitted nothing — vacuous")
      assert(b === a, s"$name: restarted output diverged from the uninterrupted run")
      graft.Stage.deleteRecursively(base)
    }
    graft.Stage.deleteRecursively(root)
  }

  test("streaming queries are rerunnable within one session (memory sink name reuse)") {
    val a = Streaming.stWindowAgg(spark, sfDir).count()
    val b = Streaming.stWindowAgg(spark, sfDir).count()
    assert(a === b && a > 0)
    val c = Streaming.stDedup(spark, sfDir).count()
    val e = Streaming.stDedup(spark, sfDir).count()
    assert(c === e && c > 0)
  }

  test("st_incremental: microbatch-boundary-invariant, equals all-pairs twin") {
    // 3 one-file batches vs a single 3-file batch: the doc_id< gating
    // makes verdicts independent of where the stream chunks.
    val perFile = Streaming.stIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val oneBatch = Streaming.stIncrementalChunked(spark, sfDir, 3).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(perFile === oneBatch)
    // all-pairs ground truth: verdict vs EVERY lower-id doc (history ∪
    // increment), no banding — proves the multiprobe candidate set
    // missed nothing and the streamed state handoff posted every batch.
    val sides = Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(graft.operators.Dedup.incrementDocs(spark, sfDir))
    val sigs = sides
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"),
        graft.functions.word_shingle_md5_hashes(col("text"), 1).as("toks"))
      .select(col("doc_id"), col("h"),
        when(size(col("toks")) > 0,
          graft.functions.simhash64(col("toks"))).as("sh"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val expected = sigs.filter(_._1 >= 2000000L).map { case (id, h, sh) =>
      val lower = sigs.filter(_._1 < id)
      val exact = lower.exists(_._2 == h)
      val near = lower.exists(o => (o._3, sh) match {
        case (Some(a), Some(b)) => java.lang.Long.bitCount(a ^ b) <= 7
        case _ => false
      })
      (id, if (exact) "exact" else if (near) "near" else "unique")
    }.sortBy(_._1).toSeq
    assert(perFile === expected)
  }

  test("t_quality_train: recovers the marker rule on train AND held-out splits") {
    val rows = Text.tQualityTrain(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getString(4), r.getString(5))) // (split, pred, actual)
      .filter(_._3 != "empty")
    val bySplit = rows.groupBy(_._1)
    assert(bySplit.keySet === Set("train", "heldout"))
    // the 80/20 md5 split must be materially populated on both sides
    assert(bySplit("heldout").length * 10 >= rows.length,
      s"held-out is ${bySplit("heldout").length}/${rows.length} — split degenerate")
    bySplit.foreach { case (split, xs) =>
      val byClass = xs.groupBy(_._3)
      assert(byClass.keySet === Set("pos", "neg"),
        s"$split split missing a class — degenerate supervision")
      byClass.foreach { case (cls, ys) =>
        val acc = ys.count(y => y._2 == y._3).toDouble / ys.length
        assert(acc >= 0.85, s"$split/$cls accuracy $acc below floor 0.85")
      }
      val overall = xs.count(y => y._2 == y._3).toDouble / xs.length
      // the held-out floor is the generalization gate: a model that
      // memorized train docs instead of learning the rule fails here
      assert(overall >= 0.9, s"$split overall accuracy $overall below floor 0.9")
    }
  }

  test("t_fingerprint: byte-identical docs share a fingerprint, others don't collide") {
    val fps = Text.tFingerprint(spark, sfDir)
    val dups = fps.filter(col("doc_id") >= 1000000L)
      .withColumn("orig_id", col("doc_id") - 1000000L)
    val joined = dups.as("d").join(fps.as("o"),
      col("d.orig_id") === col("o.doc_id"))
    assert(joined.filter(col("d.fp") =!= col("o.fp")).count() === 0)
    // distinct docs should essentially never collide (md5-hex chain)
    val base = fps.filter(col("doc_id") < 1000000L)
    assert(base.select("fp").distinct().count() === base.count())
  }

  test("t_winnow surfaces every exact-duplicate pair within its length contract") {
    // winnowing guarantees matches of >= window+k-1 tokens; gate the
    // expectation on docs long enough to produce >= 2 fingerprints
    val expected = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 7 === 0
        && size(split(col("text"), "\\s+")) >= 20)
      .select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    val found = Text.tWinnow(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.subsetOf(found), s"missed: ${expected -- found}")
  }

  test("t_sample: deterministic across runs, sane strata") {
    val a = Text.tSample(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).sorted
    val b = Text.tSample(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).sorted
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
    assert(a.forall { case (_, split, n, _) => (split == "train" || split == "test") && n > 0 })
  }

  test("t_perplexity: every doc scored, rare-token docs score higher than stuffed ones") {
    val out = Text.tPerplexity(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === Tables.documents(spark, sfDir).count())
    // unigram self-LM: every token has cnt>=1 so p<=1 and -ln(p)>=0;
    // and no doc can average below the most-common token's nll
    assert(out.forall(_._3 >= 0.0))
    assert(out.forall(_._2 > 0))
  }

  test("t_filter_funnel: stages chain (each n_in is the previous n_out)") {
    val rows = Text.tFilterFunnel(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 4)
    assert(rows.head._2 === Tables.documents(spark, sfDir).count())
    rows.foreach { case (_, nIn, nOut) => assert(nOut <= nIn) }
    rows.sliding(2).foreach {
      case Array((_, _, out1), (_, in2, _)) => assert(out1 === in2)
      case _ =>
    }
  }

  test("t_pipeline_e2e: shard accounting consistent with an independent stage recount") {
    val out = Text.tPipelineE2e(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty && out.forall { case (shard, copies, bins, chars) =>
      shard >= 0 && shard < 8 && copies >= bins && bins >= 1 && chars > 0
    })
    // recount copies without the packing window: gate → dedup →
    // decontaminate → mix, counted per shard directly
    val docs = Tables.documents(spark, sfDir)
    val gated = docs.filter(
      size(graft.functions.word_shingle_hashes(col("text"), 1)) >= 20)
    val keepers = gated.groupBy(md5(col("text").cast("binary")))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val deduped = gated.join(keepers, Seq("doc_id"), "left_semi")
    val w4 = filter(split(lower(col("text")), "\\s+"), x => x =!= "")
    val sh = deduped.select(col("doc_id"), explode(
      when(size(w4) >= 4, transform(sequence(lit(1), size(w4) - 3),
        i => concat_ws(" ", slice(w4, i, lit(4))))).otherwise(array())).as("g"))
    val benchG = sh.filter(col("doc_id") % 50 === 0).select("g").distinct()
    val flagged = sh.filter(col("doc_id") % 50 =!= 0)
      .join(benchG, Seq("g")).select("doc_id").distinct()
    val clean = deduped.filter(col("doc_id") % 50 =!= 0)
      .join(flagged, Seq("doc_id"), "left_anti")
    val repeats = (when(col("lang") === "en", 0L)
      .when(col("lang") === "zh", 2L)
      .when(col("lang") === "fr", 2L).otherwise(1L)) +
      when(substring(md5(concat(lit("mix"), col("doc_id").cast("string"))
        .cast("binary")), 1, 4) <
        when(col("lang") === "en", "8000").when(col("lang") === "zh", "8000")
          .when(col("lang") === "es", "4000").otherwise("0000"), 1L).otherwise(0L)
    val expected = clean.withColumn("r", repeats).filter(col("r") > 0)
      .groupBy((col("doc_id") % 8).as("shard"))
      .agg(sum(col("r")).as("n_copies")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (shard, copies, _, _) =>
      assert(expected.get(shard).contains(copies),
        s"shard $shard: $copies copies vs expected ${expected.get(shard)}")
    }
  }

  test("t_langid emits one prediction per doc from the candidate set") {
    val out = Text.tLangid(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    assert(out.count() === docs.count())
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(out.select("predicted").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(langs))
  }

  test("JPEG flows through the decode seam: dims exact, DC stats bounded, routing dispatches") {
    // second codec through decodeImageBatch — JPEG is lossy, so the
    // contract is dims EXACT (structure survives the codec) and pixel
    // stats BOUNDED (the DC/mean term is what baseline JPEG preserves;
    // min/max may ring). The oracle stays on the lossless PNG twin;
    // this spec is the JPEG bound the verdict asked for.
    val ids = (0L until 64L).toSeq
    val jpegs = ids.map(id => Multimodal.BinaryRow(id, Multimodal.jpegFixture(id)))
    // payload really is baseline JPEG (SOI + JFIF marker)
    assert(jpegs.head.payload.take(3).toSeq ===
      Seq(0xFF.toByte, 0xD8.toByte, 0xFF.toByte))
    val feats = Multimodal.decodeImageBatch(jpegs, "jpeg").sortBy(_.doc_id)
    assert(feats.length === ids.length)
    feats.foreach { f =>
      val (ew, eh) = Multimodal.pngDims(f.doc_id)
      assert(f.width === ew && f.height === eh, s"doc ${f.doc_id} dims")
      val exact = (for { y <- 0 until eh; x <- 0 until ew }
        yield Multimodal.pngPixel(f.doc_id, x, y).toLong).sum
      val n = (ew * eh).toDouble
      // mean (DC term) within 8 gray levels of the source — the
      // fixture is near-white-noise, the hardest case for JPEG; a
      // broken decode (wrong channel, wrong scaling) is off by far more
      assert(math.abs(f.px_sum / n - exact / n) <= 8.0,
        s"doc ${f.doc_id} mean drift: got ${f.px_sum / n}, want ${exact / n}")
      assert(f.px_min >= 0 && f.px_max <= 255 && f.px_min <= f.px_max)
    }
    // decode is deterministic within this JDK: same batch, same stats
    assert(Multimodal.decodeImageBatch(jpegs, "jpeg").sortBy(_.doc_id) === feats)
    // magic-byte routing dispatches a MIXED batch to the right codec:
    // PNG members decode pixel-exact, JPEG members match the jpeg-only run
    val mixed = ids.map { id =>
      if (id % 2 == 0) Multimodal.BinaryRow(id, Multimodal.pngFixture(id))
      else jpegs(id.toInt)
    }
    val routed = Multimodal.decodeRoutedBatch(mixed).sortBy(_.doc_id)
    assert(routed.length === ids.length)
    routed.filter(_.doc_id % 2 == 0).foreach { f =>
      val (ew, eh) = Multimodal.pngDims(f.doc_id)
      val exact = (for { y <- 0 until eh; x <- 0 until ew }
        yield Multimodal.pngPixel(f.doc_id, x, y).toLong).sum
      assert(f.px_sum === exact, s"routed PNG doc ${f.doc_id} not pixel-exact")
    }
    assert(routed.filter(_.doc_id % 2 == 1) ===
      feats.filter(_.doc_id % 2 == 1))
  }

  test("m_audio_features: real WAV decode — sample stats exact, stats come from the bytes") {
    val ids = Seq(0L, 1L, 7L, 64L, 65L, 129L, 1000L, 65535L)
    val batch = ids.map(id => Multimodal.BinaryRow(id, Multimodal.wavFixture(id)))
    val feats = Multimodal.decodeAudioBatch(batch).sortBy(_.doc_id)
    feats.foreach { f =>
      val n = Multimodal.wavSamples(f.doc_id)
      val samples = (0 until n).map(k => Multimodal.wavSample(f.doc_id, k))
      assert(f.n_samples === n.toLong, s"doc ${f.doc_id} frame count")
      assert(f.sample_rate === 8000)
      assert(f.amp_sum === samples.map(_.toLong).sum, s"doc ${f.doc_id} sum")
      assert(f.amp_min === samples.min && f.amp_max === samples.max)
    }
    // the closed form spans both signs across the batch — a
    // sign/endianness bug in the frame parse could not reproduce the
    // exact negative amplitudes above by accident
    assert(feats.map(_.amp_min).min < 0 && feats.map(_.amp_max).max > 0)
    // stats come from the PAYLOAD bytes, not the synthesis constants:
    // doctor one data-chunk sample and the decoded sum must move
    val doctored = Multimodal.wavFixture(7L)
    doctored(44) = (doctored(44) ^ 0x7F).toByte
    val redecoded = Multimodal.decodeAudioBatch(
      Seq(Multimodal.BinaryRow(7L, doctored))).head
    assert(redecoded.amp_sum !== feats.find(_.doc_id == 7L).get.amp_sum,
      "doctored payload decoded to identical stats — decode not real")
  }

  test("m_decode_features: real PNG decode — dims and pixel stats are exact") {
    val a = Multimodal.mDecodeFeatures(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getInt(5))).sortBy(_._1)
    assert(a.length === Tables.documents(spark, sfDir).count())
    a.foreach { case (id, w, h, sum, mn, mx) =>
      val (ew, eh) = Multimodal.pngDims(id)
      assert(w === ew && h === eh, s"doc $id dims")
      val pixels = for { y <- 0 until eh; x <- 0 until ew }
        yield Multimodal.pngPixel(id, x, y)
      assert(sum === pixels.map(_.toLong).sum, s"doc $id px_sum")
      assert(mn === pixels.min && mx === pixels.max, s"doc $id min/max")
    }
    // the payload really is a decodable PNG with the PNG magic header
    val png = Multimodal.pngFixture(42L)
    assert(png.take(4).toSeq === Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
    val b = Multimodal.mDecodeFeatures(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
    assert(b.toSeq === a.map(r => (r._1, r._4)).toSeq)
  }

  test("m_patchify: tile grid covers the divisible region, stats reconcile with the whole image") {
    val patches = Multimodal.mPatchify(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
      .groupBy(_._1)
    val whole = Multimodal.mDecodeFeatures(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getInt(5))).map(t => t._1 -> t).toMap
    assert(patches.keySet === whole.keySet.filter { id =>
      val (w, h) = Multimodal.pngDims(id); w >= 4 && h >= 4
    })
    val P = Multimodal.PatchSize
    patches.foreach { case (id, ps) =>
      val (w, h) = Multimodal.pngDims(id)
      // the grid is exactly (h/P)×(w/P), each tile once
      assert(ps.map(t => (t._2, t._3)).toSet ===
        (for { pr <- 0 until h / P; pc <- 0 until w / P } yield (pr, pc)).toSet)
      val (_, _, _, imgSum, imgMin, imgMax) = whole(id)
      // patch mins/maxes bound the image's
      assert(ps.map(_._5).min >= imgMin && ps.map(_._6).max <= imgMax)
      // and when the tiles COVER the image, sums reconcile exactly
      if (w % P == 0 && h % P == 0) {
        assert(ps.map(_._4).sum === imgSum, s"doc $id patch sums != image sum")
        assert(ps.map(_._5).min === imgMin && ps.map(_._6).max === imgMax)
      }
    }
  }

  test("m_intensity_hist: buckets partition every image's pixels; closed-form recompute for one doc") {
    val hist = Multimodal.mIntensityHist(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    hist.foreach { case (id, rows) =>
      val (w, h) = Multimodal.pngDims(id)
      assert(rows.map(_._3).sum === (w * h).toLong, s"doc $id pixel count")
      rows.foreach(r => assert(r._2 >= 0 && r._2 <= 15))
    }
    // one doc recomputed straight off the closed-form pixel function
    val id = hist.keys.min
    val (w, h) = Multimodal.pngDims(id)
    val expected = (for { y <- 0 until h; x <- 0 until w }
      yield Multimodal.pngPixel(id, x, y) / 16)
      .groupBy(identity).map { case (b, v) => (b, v.size.toLong) }
    assert(hist(id).map(t => (t._2, t._3)).toMap === expected)
  }

  test("m_sharpness: decoded-raster Laplacian equals the closed-form recompute; wrap seams give nonzero variance") {
    val rows = Multimodal.mSharpness(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, s, sq, v) =>
      val (w, h) = Multimodal.pngDims(id)
      assert(n === ((w - 2).toLong * (h - 2)), s"doc $id interior count")
      assert(v >= 0.0)
      assert(v === (if (n > 0) (n * sq - s * s).toDouble / (n * n).toDouble else 0.0))
    }
    // full recompute for one doc from pngPixel
    val (id, n0, s0, sq0, _) = rows.head
    val (w, h) = Multimodal.pngDims(id)
    var n = 0L; var s = 0L; var sq = 0L
    for (y <- 1 until h - 1; x <- 1 until w - 1) {
      val lap = 4L * Multimodal.pngPixel(id, x, y) -
        Multimodal.pngPixel(id, x - 1, y) - Multimodal.pngPixel(id, x + 1, y) -
        Multimodal.pngPixel(id, x, y - 1) - Multimodal.pngPixel(id, x, y + 1)
      n += 1; s += lap; sq += lap * lap
    }
    assert((n0, s0, sq0) === ((n, s, sq)))
    // the mod-256 wrap seams make at least one image genuinely non-flat
    assert(rows.exists(_._5 > 0.0), "every Laplacian variance zero — wrap seams missing")
  }

  test("m_frame_sample: frame counts and sampling ratio are exact") {
    val rows = Multimodal.mFrameSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.length === Tables.documents(spark, sfDir).count())
    rows.foreach { case (_, frames, sampled) =>
      // ceil(frames / SampleEvery) frames survive sampling
      assert(sampled === (frames + Multimodal.SampleEvery - 1) / Multimodal.SampleEvery)
    }
    // digest is deterministic across runs
    val again = Multimodal.mFrameSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(3))).sortBy(_._1)
    val first = Multimodal.mFrameSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(3))).sortBy(_._1)
    assert(again.toSeq === first.toSeq)
  }

  test("m_resize: real decoded-raster resample — dims, sum, digest exact") {
    val rows = Multimodal.mResize(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5), r.getString(6))).sortBy(_._1)
    assert(rows.length === Tables.documents(spark, sfDir).count())
    val s = Multimodal.ResizeStride
    rows.foreach { case (id, w, h, rw, rh, sum, digest) =>
      val (ew, eh) = Multimodal.pngDims(id)
      assert(w === ew && h === eh)
      assert(rw === (ew + s - 1) / s && rh === (eh + s - 1) / s)
      val resampled = for { y <- 0 until rh; x <- 0 until rw }
        yield Multimodal.pngPixel(id, x * s, y * s)
      assert(sum === resampled.map(_.toLong).sum, s"doc $id r_sum")
      assert(digest.length === 32)
    }
    val again = Multimodal.mResize(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(6))).sortBy(_._1)
    assert(again.toSeq === rows.map(r => (r._1, r._7)).toSeq)
  }

  test("m_augment: hflip and crop are pixel-exact transforms of the decode") {
    val rows = Multimodal.mAugment(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getString(5)))
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length === 2 * nDocs, "fan-out must be exactly 1→2")
    rows.groupBy(_._1).foreach { case (id, vs) =>
      assert(vs.map(_._2).sorted.toSeq === Seq("crop", "hflip"))
    }
    rows.foreach { case (id, aug, w, h, sum, digest) =>
      val (ew, eh) = Multimodal.pngDims(id)
      val px: IndexedSeq[Int] = aug match {
        case "hflip" =>
          assert(w === ew && h === eh)
          for { y <- 0 until h; x <- 0 until w }
            yield Multimodal.pngPixel(id, ew - 1 - x, y)
        case "crop" =>
          assert(w === ew - 2 && h === eh - 2)
          for { y <- 0 until h; x <- 0 until w }
            yield Multimodal.pngPixel(id, x + 1, y + 1)
      }
      assert(sum === px.map(_.toLong).sum, s"doc $id $aug px_sum")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(px.map(v => f"$v%02X").mkString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      assert(digest === md, s"doc $id $aug digest")
    }
  }

  test("m_lossy_roundtrip: degradation measured, bounded, and genuinely lossy") {
    val ids = Tables.documents(spark, sfDir).select("doc_id").collect().map(_.getLong(0))
    val stats = Multimodal.lossyRoundtripBatch(ids.toSeq)
    assert(stats.length === ids.length)
    stats.foreach { s0 =>
      val (ew, eh) = Multimodal.pngDims(s0.doc_id)
      assert(s0.width === ew && s0.height === eh, s"doc ${s0.doc_id} dims")
      assert(s0.max_err_ok && s0.mean_err_ok, s"doc ${s0.doc_id} exceeded tolerance")
    }
    // the roundtrip is genuinely lossy: some pixel differs somewhere
    // (else the tolerance gate proves nothing)
    val anyErr = ids.take(32).exists { id =>
      val payload = Multimodal.jpegFixture(id)
      val feats = Multimodal.decodeImageBatch(
        Seq(Multimodal.BinaryRow(id, payload)), "jpeg").head
      val (w, h) = Multimodal.pngDims(id)
      val exactSum = (for { y <- 0 until h; x <- 0 until w }
        yield Multimodal.pngPixel(id, x, y).toLong).sum
      feats.px_sum != exactSum
    }
    assert(anyErr, "JPEG roundtrip was pixel-exact — gate is vacuous")
  }

  test("m_shard_pack: manifest matches a brute-force sequential pack") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8").length.toLong))
    val expected = docs.groupBy(_._1 % 8).toSeq.flatMap { case (shard, rows) =>
      var cum = 0L
      rows.sortBy(_._1).toSeq.map { case (id, len) =>
        val before = cum
        cum += len
        val fileIdx = before / 16384L
        (id, shard, fileIdx, before - fileIdx * 16384L, len)
      }
    }.toSet
    val got = Multimodal.mShardPack(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4).toLong)).toSet
    assert(got === expected)
  }

  test("decodeImageBatch batch shape: grouped(64) never exceeds the batch size") {
    val rows = (1 to 150).map(i =>
      Multimodal.BinaryRow(i.toLong, Multimodal.pngFixture(i.toLong)))
    val batches = rows.grouped(Multimodal.BatchSize).toSeq
    assert(batches.forall(_.length <= Multimodal.BatchSize))
    assert(batches.map(_.length).sum === 150)
    val out = batches.flatMap(Multimodal.decodeImageBatch)
    assert(out.length === 150)
    assert(out.map(_.doc_id) === rows.map(_.doc_id))
  }
}
