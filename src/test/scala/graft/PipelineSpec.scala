package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.pipeline._

/** End-to-end pipeline specs over the deterministic encrypted fixtures:
  * key-service plumbing, partitioned write layouts, and the export shape.
  */
class PipelineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("SparkEntry.entry flagship returns rows (driver smoke contract)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq === Seq("id", "id_part", "export_year",
      "export_month", "export_day", "db_type", "val"))
  }

  test("KeyService resolves each distinct key exactly once (dks cache parity)") {
    var calls = 0
    val counting = new KeyService(k => { calls += 1; k })
    val parsed = Envelope.parse(Envelope.synthesize(spark, dir))
    val withKeys = counting.withDataKeys(parsed)
    assert(withKeys.count() === parsed.count())
    // 5 distinct data keys in the fixture (doc_id % 5)
    assert(counting.lastResolvedCount === 5)
    assert(calls === 5)
  }

  test("no resolved data key appears in any plan string") {
    val resolved = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val keys = new KeyService(k => { resolved.add(k); k })
    val lines = Envelope.synthesize(spark, dir)
    val parsed = Envelope.parse(lines).filter(!col("malformed")).drop("malformed", "value")
    // the key binding sits under Ingest.process's barrier, so its own
    // frames are checked as well as the pipeline's
    val frames = Seq("pipeline" -> Ingest.pipeline(lines, keys),
      "withDataKeys" -> keys.withDataKeys(parsed),
      "decrypt" -> Ingest.decrypt(keys.withDataKeys(parsed)))
    val log = JobLog.during(spark) {
      frames.foreach { case (_, df) => assert(df.count() === Tables.documents(spark, dir).count()) }
    }
    assert(resolved.size === 5)
    val texts = frames.flatMap { case (name, df) =>
      val qe = df.queryExecution
      Seq(s"$name queryExecution" -> qe.toString, s"$name executedPlan" -> qe.executedPlan.toString,
        s"$name explain formatted" -> qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    } ++ log.plans.map("posted plan" -> _)
    assert(texts.exists(_._2.contains("data_key_lookup(key_enc")), "the key binding is in no plan")
    val leaks = for ((what, text) <- texts; k <- resolved.asScala if text.contains(k)) yield what
    assert(leaks.isEmpty, s"resolved data keys printed in: ${leaks.distinct.mkString(", ")}")
  }

  test("key resolution retries transient failures then succeeds (RetryConfig parity)") {
    var calls = 0
    val flaky = KeyService.withRetry(maxRetries = 3, backoffMs = 1) { k =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient") else k
    }
    assert(flaky("abc") === "abc")
    assert(calls === 3)
    val alwaysFails = KeyService.withRetry(maxRetries = 2, backoffMs = 1) { _ =>
      throw new RuntimeException("down")
    }
    val e = intercept[RuntimeException] { alwaysFails("k") }
    assert(e.getMessage.contains("after 3 attempts"))
  }

  test("pipeline decrypt roundtrip recovers every record") {
    val out = Ingest.pipeline(Envelope.synthesize(spark, dir))
    val docs = Tables.documents(spark, dir).count()
    assert(out.count() === docs)
    // every val is valid canonical JSON with the expected fields
    val bad = out.filter(
      get_json_object(col("val"), "$.n_chars").isNull ||
      get_json_object(col("val"), "$.lang").isNull).count()
    assert(bad === 0)
  }

  test("key rotation: payload ciphertext byte-identical, every edek changed, old resolver fails") {
    import graft.queries.PipelineQueries
    val parsed = Envelope.parse(Envelope.synthesize(spark, dir))
    val rotated = PipelineQueries.rotateKeys(parsed)
    // 1. payload ciphertext untouched — rotation re-wraps keys, never data
    val before = parsed.select(col("raw_id"), col("db_object")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val after = rotated.select(col("raw_id"), col("db_object")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after === before, "rotation touched payload ciphertext")
    // 2. every edek changed
    val oldKeys = parsed.select("raw_id", "key_enc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val newKeys = rotated.select("raw_id", "key_enc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(newKeys.forall { case (id, k) => k != oldKeys(id) })
    // 3. the new resolver round-trips to the original data key
    val resolved = PipelineQueries.rotatedKeyService
      .withDataKeys(rotated).select("raw_id", "data_key").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(resolved === oldKeys, "rotated edeks must unwrap to the original keys")
    // 4. the OLD (identity) resolver on rotated edeks cannot decrypt:
    // the rotated edek isn't even a valid raw key (wrapIV:ct), so the
    // pre-rotation path fails loudly rather than silently mis-decrypting
    val wrong = graft.pipeline.Ingest.decrypt(
      KeyService.identity.withDataKeys(rotated))
      .filter(get_json_object(col("decrypted"), "$.n_chars").isNotNull)
    val e = intercept[org.apache.spark.SparkException] { wrong.count() }
    assert(e.getMessage != null)
  }

  test("crypto-shred: revoked slice never reaches a decryptor; survivors intact") {
    import graft.queries.PipelineQueries
    val out = PipelineQueries.pCryptoShred(spark, dir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2)))
    val docs = Tables.documents(spark, dir).select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length === docs.size, "accounting must be total")
    out.foreach { case (id, nc, status) =>
      if (id % 5 == 0) {
        assert(status === "shredded" && nc === -1L, s"doc $id leaked past shredding")
      } else {
        assert(status === "kept" && nc === docs(id), s"doc $id")
      }
    }
    assert(out.exists(_._3 == "shredded") && out.exists(_._3 == "kept"))
  }

  test("writeDaily produces dynamic-partition layout partitioned by date + id_part") {
    val tmp = Files.createTempDirectory("graft_daily").toString
    val daily = Ingest.dailyIncrement(
      Ingest.pipeline(Envelope.synthesize(spark, dir)), "2021-06-15")
    Ingest.writeDaily(daily, tmp)
    val root = new java.io.File(tmp)
    val yearDirs = root.listFiles().filter(_.isDirectory).map(_.getName)
    assert(yearDirs.contains("export_year=2021"))
    val partDirs = new java.io.File(
      s"$tmp/export_year=2021/export_month=6/export_day=15")
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(partDirs.nonEmpty && partDirs.forall(_.startsWith("id_part=")))
    // read-back equals what went in
    val back = spark.read.parquet(tmp)
    assert(back.count() === daily.count())
  }

  test("writeDaily sorts every file it writes by id") {
    val tmp = Files.createTempDirectory("graft_daily_sorted")
    val daily = Ingest.dailyIncrement(
      Ingest.pipeline(Envelope.synthesize(spark, dir)), "2021-06-15")
    // two halves, one after the other: the input is not in id order, so
    // only the writer's own sort can put each file in order
    val odd = pmod(hash(col("id")), lit(2)) === 1
    Ingest.writeDaily(daily.filter(odd).unionByName(daily.filter(!odd)), tmp.toString)
    val files = Files.walk(tmp).iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    val unsorted = files.filter { f =>
      val ids = spark.read.parquet(f.toString).select("id").collect().map(_.getString(0)).toSeq
      ids != ids.sorted
    }
    assert(unsorted.isEmpty, s"${unsorted.size} of ${files.size} files unsorted: ${unsorted.take(3)}")
    Stage.deleteRecursively(tmp.toFile)
  }

  test("writeSnapshot layout + merge keeps one latest row per key") {
    val tmp = Files.createTempDirectory("graft_snap").toString
    val processed = Ingest.pipeline(Envelope.synthesize(spark, dir))
      .select("id", "id_part", "db_type", "val")
    Snapshot.writeSnapshot(
      Snapshot.latestByKey(processed, Seq("id_part", "id"), col("db_type")), tmp)
    val back = spark.read.orc(tmp)
    assert(back.groupBy("id_part", "id").count().filter(col("count") > 1).count() === 0)
    val partDirs = new java.io.File(tmp).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(partDirs.nonEmpty && partDirs.forall(_.startsWith("id_part=")))
  }

  test("ORC+zlib output (the reference's exact storage format) roundtrips") {
    val tmp = Files.createTempDirectory("graft_orc").toString
    val processed = Ingest.pipeline(Envelope.synthesize(spark, dir))
      .select("id", "id_part", "db_type", "val")
    Snapshot.writeSnapshot(
      Snapshot.latestByKey(processed, Seq("id_part", "id"), col("db_type")),
      tmp, format = "orc", compression = "zlib")
    assert(new java.io.File(tmp).listFiles().exists(_.getName.startsWith("id_part=")))
    val back = spark.read.orc(tmp)
    assert(back.count() === processed.count())
    assert(back.columns.toSet === Set("id", "id_part", "db_type", "val"))
  }

  test("latestByKey (max_by) matches the reference-shaped window twin") {
    val ev = Tables.events(spark, dir).select("user_id", "event_id", "ts", "event_type")
    val prod = Snapshot.latestByKey(ev, Seq("user_id"), struct(col("ts"), col("event_id")))
    val twin = Snapshot.latestByKeyWindow(ev, Seq("user_id"), struct(col("ts"), col("event_id")))
      .select("user_id", "event_id", "ts", "event_type")
    assert(prod.exceptAll(twin.select(prod.columns.map(col).toSeq: _*)).count() === 0)
    assert(twin.count() === prod.count())
  }

  test("observe metrics ride the ingest action (accumulator parity)") {
    val obs = new org.apache.spark.sql.Observation("ingest_spec")
    val out = Ingest.pipelineObserved(Envelope.synthesize(spark, dir), obs)
    out.write.format("noop").mode("overwrite").save()
    val m = obs.get
    val docs = Tables.documents(spark, dir)
    assert(m("records") === docs.count())
    assert(m("deletes") === docs.filter(col("doc_id") % 10 === 0).count())
  }

  test("gzip JSONL input reads transparently (reference's .jsonl.gz format)") {
    import spark.implicits._
    val dirGz = java.nio.file.Files.createTempDirectory("graft_gz").toString
    Envelope.synthesize(spark, dir)
      .write.mode("overwrite").option("compression", "gzip").text(dirGz)
    assert(new java.io.File(dirGz).listFiles().exists(_.getName.endsWith(".gz")))
    val processed = Ingest.pipeline(spark.read.text(dirGz))
    assert(processed.count() === Tables.documents(spark, dir).count())
  }

  test("malformed envelope lines are quarantined, not nulled through") {
    import spark.implicits._
    val good = Envelope.synthesize(spark, dir)
    val garbage = Seq("not json at all", """{"message": {"db": "x"}}""", "{}")
      .toDF("value")
    val mixed = good.unionByName(garbage)
    val processed = Ingest.pipeline(mixed)
    assert(processed.count() === good.count())
    assert(processed.filter(col("val").isNull).count() === 0)
    val quarantined = Ingest.malformedLines(mixed)
    assert(quarantined.count() === 3)
  }

  test("p_dead_letter: corrupt fraction routed aside, good lines all survive") {
    val rows = graft.queries.PipelineQueries.pDeadLetter(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val total = Tables.documents(spark, dir).count()
    val bad = Tables.documents(spark, dir)
      .filter(col("doc_id") % 13 === 0).count()
    assert(rows("dead_letter")._1 === bad)
    assert(rows("ok")._1 === total - bad)
    assert(rows("dead_letter")._2.isEmpty) // opaque until re-ingested
  }

  test("sanitise guard raises for collection-specific collections") {
    import spark.implicits._
    val line = Envelope.synthesize(spark, dir).limit(1)
      .as[String].collect()(0)
      .replace("\"db\":\"corp\"", "\"db\":\"penalties-and-deductions\"")
      .replace("\"collection\":\"documents\"", "\"collection\":\"sanction\"")
    val df = Ingest.pipeline(Seq(line).toDF("value"))
    val e = intercept[Exception] { df.collect() }
    assert(e.getMessage != null)
  }

  test("hive export shape prunes to the DDL columns") {
    val shaped = HiveExport.exportShape(
      Ingest.pipeline(Envelope.synthesize(spark, dir)),
      "lang STRING, n_chars BIGINT")
    assert(shaped.columns.toSeq === Seq("lang", "n_chars"))
    assert(shaped.filter(col("lang").isNull).count() === 0)
  }

  test("p_incremental_agg: state ∪ delta merge equals full recompute") {
    import graft.queries.QueryDef.dec
    val full = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val merged = graft.queries.PipelineQueries.pIncrementalAgg(spark, dir).collect()
    assert(merged.nonEmpty)
    merged.foreach { r =>
      val k = (r.getString(0), r.getDate(1).toString)
      assert(full(k) === ((r.getLong(2), r.getDouble(3))))
      assert(r.getDouble(4) === r.getDouble(3) / r.getLong(2))
    }
    assert(merged.length === full.size)
  }

  test("p_profile: every stacked stat row matches its direct single-column query") {
    val o = Tables.orders(spark, sfDir)
    val n = o.count()
    val got = graft.queries.PipelineQueries.pProfile(spark, sfDir).collect()
      .map(r => r.getString(1) -> ((r.getLong(0), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    assert(got.size === 6)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    cols.foreach { c =>
      val (nr, nn, nd, mn, mx) = got(c)
      assert(nr === n, s"$c n_rows")
      assert(nn === o.filter(col(c).isNull).count(), s"$c n_null")
      assert(nd === o.select(c).distinct().count(), s"$c n_distinct")
      assert(mn.nonEmpty && mx.nonEmpty && mn <= mx || nd === 0L, s"$c min/max sane")
    }
    // typed render contract spot checks
    val key = o.agg(min("o_orderkey"), max("o_orderkey")).head
    assert(got("o_orderkey")._4 === key.getLong(0).toString)
    assert(got("o_orderkey")._5 === key.getLong(1).toString)
    val price = got("o_totalprice")
    assert(price._4.matches("-?\\d+\\.\\d{2}") && price._5.matches("-?\\d+\\.\\d{2}"),
      s"decimal render: $price")
  }

  test("p_expectations: rule verdicts match direct recounts; a doctored batch fails the right rules") {
    val o = Tables.orders(spark, sfDir)
    val got = graft.queries.PipelineQueries.pExpectations(spark, sfDir).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(got.size === 6)
    assert(got("not_null:o_orderkey") === ((o.filter(col("o_orderkey").isNull).count(), "pass")))
    assert(got("unique:o_orderkey")._1 === o.count() - o.select("o_orderkey").distinct().count())
    assert(got("ref:o_custkey->customer")._1 ===
      o.join(Tables.customer(spark, sfDir), o("o_custkey") === col("c_custkey"), "left_anti").count())
    // clean fixture: every rule passes
    assert(got.values.forall(_._2 == "pass"), s"clean batch must pass: $got")

    // doctored batch: null key, duplicated key, orphan custkey — the
    // right rules fail with the right counts, the others still pass
    val dir = Files.createTempDirectory("graft_expect").toFile
    try {
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "lineitem", "events", "documents", "embeddings"))
        Files.createSymbolicLink(new java.io.File(dir, s"$t.parquet").toPath,
          java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
      val one = o.orderBy("o_orderkey").limit(1)
      val doctored = o
        .union(one) // duplicate one key
        .union(one.withColumn("o_orderkey", lit(null).cast("long"))) // null key
        .union(one.withColumn("o_custkey", lit(-999L))) // orphan
      doctored.write.parquet(new java.io.File(dir, "orders.parquet").getPath)
      val bad = graft.queries.PipelineQueries.pExpectations(spark, dir.getPath)
        .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getString(3)))).toMap
      assert(bad("not_null:o_orderkey") === ((1L, "fail")))
      // dup + orphan copies share a key (+2) and the null-key row cannot\n      // be distinct-counted (+1): unique = n_rows - n_distinct = 3\n      assert(bad("unique:o_orderkey") === ((3L, "fail")))
      assert(bad("ref:o_custkey->customer") === ((1L, "fail")))
      assert(bad("domain:o_orderstatus")._2 === "pass")
      assert(bad("positive:o_totalprice")._2 === "pass")
    } finally graft.Stage.deleteRecursively(dir)
  }

  test("p_time_travel: version reads diff correctly against residue-slice recomputes") {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def latest(rows: Seq[(Long, Long, Long)]) =
      rows.groupBy(_._1).view.mapValues(_.maxBy(r => (r._3, r._2))).toMap
    val v1 = latest(ev.filter(_._2 % 2 == 0).toSeq)
    val v3 = latest(ev.toSeq)
    val expected = v3.map { case (u, (_, e3, us3)) =>
      val c = v1.get(u) match {
        case None => "insert"
        case Some((_, e1, _)) if e1 == e3 => "unchanged"
        case _ => "update"
      }
      (u, c, v1.get(u).map(_._2).getOrElse(-1L), e3, us3)
    }.toSet
    val got = graft.queries.PipelineQueries.pTimeTravel(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got === expected)
    // both populated change kinds exist in the fixture
    val kinds = got.map(_._2)
    assert(kinds.contains("update") && kinds.contains("unchanged"))
  }

  test("Diff.tableDiff: classification matches a serial recount; all four classes exercised") {
    val o = Tables.orders(spark, sfDir)
    val rows = o.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getString(2), r.getDouble(3), r.get(4), r.getString(5))).toMap
    val v2rows = rows.view.filterKeys(_ % 97 != 0).map { case (k, v) =>
      k -> (if (k % 89 == 0) v.copy(_3 = v._3 + 1.0) else v)
    }.toMap ++ rows.view.filterKeys(_ % 83 == 0).map { case (k, v) => (k + 10000000L) -> v }
    val expected = (rows.keySet ++ v2rows.keySet).map { k =>
      k -> ((rows.get(k), v2rows.get(k)) match {
        case (None, _) => "added"
        case (_, None) => "removed"
        case (Some(a), Some(b)) => if (a == b) "unchanged" else "changed"
      })
    }.toMap
    val got = graft.queries.PipelineQueries.pTableDiff(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val classes = Seq("added", "removed", "changed", "unchanged")
    classes.foreach { c =>
      val keys = expected.collect { case (k, `c`) => k }
      assert(got.getOrElse(c, (0L, 0L)) === ((keys.size.toLong, keys.sum)),
        s"class $c diverges")
      assert(keys.nonEmpty, s"fixture must exercise class $c")
    }
  }

  test("p_cdc_apply: equals a serial CDC replay; tombstoned keys vanish") {
    val cutoffUs = java.time.LocalDateTime.of(2024, 1, 15, 0, 0)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // serial replay: latest (us, event_id) per user wins; error@post-cutoff = delete
    val expected = ev.groupBy(_._1).flatMap { case (uid, rows) =>
      val last = rows.maxBy(r => (r._3, r._2))
      val nApplied = rows.count(_._3 >= cutoffUs).toLong
      val isDelete = last._3 >= cutoffUs && last._4 == "error"
      if (isDelete) None else Some((uid, last._2, last._3, nApplied))
    }.toSet
    val got = graft.queries.PipelineQueries.pCdcApply(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected)
    // the fixture must exercise the tombstone path
    val allUsers = ev.map(_._1).toSet
    assert(got.map(_._1).size < allUsers.size, "some key must be tombstoned")
  }
}
