package graft

import graft.fs.{FsOps, HadoopFsOps, ObjectStoreFsOps, PosixFsOps}

/** The filesystem seam (graft.fs.FsOps): every Delta-parity verb must
  * produce IDENTICAL answers whether the publish layer is POSIX hard
  * links + renames or the object-store model (copies + pointer-object
  * commits) — because the production target (the reference's S3
  * buckets) has no links and no atomic rename.
  *
  * Protocol: run each operator under the default POSIX seam, wipe the
  * derived artifacts, rerun under ObjectStoreFsOps, compare collected
  * rows exactly, and assert the object-store discipline held (pointer
  * commits present, no hard links created). Artifacts are wiped again
  * afterwards so later suites rebuild under POSIX (several pin
  * shared-inode behavior that copies deliberately do not have).
  */
class FsOpsSpec extends SparkSpec {

  private def fileKey(f: java.io.File) =
    java.nio.file.Files.readAttributes(f.toPath,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()

  private def parquets(f: java.io.File): Seq[java.io.File] = {
    val kids = Option(f.listFiles()).getOrElse(Array.empty)
    kids.filter(_.isDirectory).toSeq.flatMap(parquets) ++
      kids.filter(_.getName.endsWith(".parquet")).toSeq
  }

  /** Wipe every artifact family the seam-covered machinery derives, so
    * the next run rebuilds from scratch under the active seam.
    */
  private def wipeArtifacts(): Unit = {
    val prefixes = Seq("graft_zorder_", "graft_bloomidx_", "graft_partevo_",
      "graft_time_travel_", "graft_mv_lineitem_", "graft_mv_events_",
      "graft_mv_ordcust_", "graft_dpp_", "graft_components_",
      "graft_edges_", "graft_dedupindex_", "graft_quantizer_",
      "graft_evo_", "graft_envelope_", "graft_stream_late3_",
      "graft_stream_outer3_", "graft_kafka_topic_")
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => prefixes.exists(f.getName.startsWith))
      .foreach { f =>
        if (f.isDirectory) Stage.deleteRecursively(f) else f.delete()
      }
  }

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir).collect()
      .map(_.toString).sorted.toSeq

  // every operator whose artifact lifecycle crosses the seam
  private val covered = Seq("st_upsert", "st_scd2", "p_time_travel",
    "p_restore", "p_vacuum", "p_zorder", "q_zorder_prune", "p_clone",
    "p_optimize", "p_bloom_index", "p_partition_evolve",
    // write-once artifacts routed through Stage.ensureArtifact
    "q_mv_rewrite", "q_mv_join", "d_cluster_apply", "d_incremental",
    "q_dpp", "p_schema_evolution", "p_envelope_parse", "st_late_data",
    "st_stream_join_outer", "st_kafka",
    // the transactional sink commit (publish-per-batch)
    "st_exactly_once",
    // incremental MV maintenance (generation publish per microbatch +
    // the rewrite rule resolving the final generation's physical home)
    "st_mv_maintain",
    // the DSv2 generation catalog (VERSION AS OF over seam-listed,
    // pointer-resolvable generations)
    "p_time_travel_sql",
    // single-file codebook artifacts (IVF centroids, PQ codebooks)
    // published through FsOps.publishFile
    "s_ann_ivf", "s_ann_pq")

  test("seam parity: identical answers under POSIX, object-store, and Hadoop-FS publish layers") {
    assert(FsOps.current eq PosixFsOps)
    val posix = covered.map(n => n -> rows(n)).toMap
    try {
      // two object-store bindings of the one protocol: RawLocalFileSystem
      // (pure bytes — the S3A stand-in) and the configuration-routed
      // Hadoop lookup (checksummed LocalFileSystem — a real FileSystem
      // impl with sidecar objects, the s3a:// binding's code path)
      Seq[FsOps](ObjectStoreFsOps, HadoopFsOps).foreach { impl =>
        wipeArtifacts()
        val got = FsOps.withFs(impl) {
          covered.map(n => n -> rows(n)).toMap
        }
        covered.foreach { n =>
          assert(got(n) === posix(n),
            s"$n diverged between posix and ${impl.name} publish layers")
          assert(got(n).nonEmpty, s"$n returned nothing under ${impl.name}")
        }
      }
    } finally wipeArtifacts()
  }

  test("publishFile: atomic single-file commit, loser retires, debris sweepable") {
    val root = java.nio.file.Files.createTempDirectory("graft_pubfile").toFile
    try {
      Seq[FsOps](PosixFsOps, ObjectStoreFsOps, HadoopFsOps).foreach { impl =>
        FsOps.withFs(impl) {
          val parent = new java.io.File(root, impl.name); parent.mkdirs()
          val target = new java.io.File(parent, "codebook")
          // two deterministic builders race the same target
          val a = Stage.stagingFile(target, "build")
          val b = Stage.stagingFile(target, "build")
          assert(a.getPath !== b.getPath, s"${impl.name}: staging names must be unique")
          java.nio.file.Files.write(a.toPath, "bytes\n#end 1\n".getBytes("UTF-8"))
          java.nio.file.Files.write(b.toPath, "bytes\n#end 1\n".getBytes("UTF-8"))
          Stage.publishFile(a, target)
          Stage.publishFile(b, target)
          assert(target.isFile, s"${impl.name}: target not published")
          assert(new String(java.nio.file.Files.readAllBytes(target.toPath),
            "UTF-8") === "bytes\n#end 1\n", s"${impl.name}: torn or mixed publish")
          assert(!a.exists() && !b.exists(),
            s"${impl.name}: staging files must be consumed or retired")
          // a crashed build's leftover is ordinary staging debris
          val orphan = Stage.stagingFile(target, "build")
          java.nio.file.Files.write(orphan.toPath, "half".getBytes("UTF-8"))
          orphan.setLastModified(System.currentTimeMillis - 7200000L)
          val swept = Stage.gcStagingDebris(parent,
            System.currentTimeMillis - 3600000L)
          assert(swept === Seq(orphan.getName),
            s"${impl.name}: expected the orphan swept, got $swept")
          assert(target.isFile, s"${impl.name}: GC damaged the published file")
          // torn-target self-heal: a trailer-less codebook (a mid-write
          // crash on a non-atomic local binding) must not block the
          // create-if-absent publish forever — the builder retires it
          // and the rebuild lands readable
          val torn = new java.io.File(parent, "centroids")
          java.nio.file.Files.write(torn.toPath, "0 1.0\n".getBytes("UTF-8"))
          assert(graft.operators.Ann.readCentroids(torn).isEmpty,
            s"${impl.name}: trailer-less file must read as torn")
          val cs = Array((0, Seq(1.0, 2.0)))
          graft.operators.Ann.writeCentroids(torn, cs)
          val healed = graft.operators.Ann.readCentroids(torn)
          assert(healed.map(_.toSeq) === Some(cs.toSeq),
            s"${impl.name}: torn artifact not healed by rebuild publish")
        }
      }
    } finally Stage.deleteRecursively(root)
  }

  test("staging-debris GC: old orphans swept, live commits and fresh stagings survive") {
    val root = java.nio.file.Files.createTempDirectory("graft_gc").toFile
    try {
      Seq[FsOps](PosixFsOps, ObjectStoreFsOps, HadoopFsOps).foreach { impl =>
        FsOps.withFs(impl) {
          val parent = new java.io.File(root, impl.name); parent.mkdirs()
          // publish one artifact through the seam — under the
          // object-store impls its PHYSICAL home is itself a
          // staging-pattern name (referenced by the pointer), which the
          // sweep must recognize as committed, never as debris
          val target = new java.io.File(parent, "art")
          val tmp = Stage.stagingDir(target, "build")
          tmp.mkdirs()
          new java.io.File(tmp, "_SUCCESS").createNewFile()
          Stage.publishDir(tmp, target, "_SUCCESS")
          assert(Stage.published(target, "_SUCCESS"))
          // a crashed build's orphan (older than the live commit) and a
          // possibly-in-flight fresh staging tree
          val orphan = Stage.stagingDir(target, "build")
          orphan.mkdirs()
          // crash debris carries partial files (an empty prefix does
          // not even exist on an object store; tree age there derives
          // from the newest object, so age the file too)
          val partial = new java.io.File(orphan, "part-00000.parquet")
          java.nio.file.Files.write(partial.toPath, "partial".getBytes("UTF-8"))
          partial.setLastModified(System.currentTimeMillis - 7200000L)
          orphan.setLastModified(System.currentTimeMillis - 7200000L)
          val fresh = Stage.stagingDir(target, "build")
          fresh.mkdirs()
          val freshFile = new java.io.File(fresh, "part-00000.parquet")
          java.nio.file.Files.write(freshFile.toPath, "inflight".getBytes("UTF-8"))
          // an in-flight tree whose DIRECTORY looks ancient: a real
          // store's implicit directories carry no mtime (S3A reports
          // 0), so the object-store impls must age a tree by its
          // newest object — its just-written object keeps it alive
          val stale = if (impl eq PosixFsOps) None else {
            val d = Stage.stagingDir(target, "build")
            d.mkdirs()
            java.nio.file.Files.write(new java.io.File(d, "part-00000.parquet").toPath,
              "inflight".getBytes("UTF-8"))
            d.setLastModified(System.currentTimeMillis - 7200000L)
            Some(d)
          }
          val swept = Stage.gcStagingDebris(parent,
            System.currentTimeMillis - 3600000L)
          assert(swept === Seq(orphan.getName),
            s"${impl.name}: expected exactly the orphan swept, got $swept")
          assert(!orphan.exists() && fresh.exists())
          stale.foreach(d => assert(d.exists(),
            s"${impl.name}: an in-flight tree with an old directory mtime was swept"))
          // the published artifact still resolves to a marked tree
          assert(Stage.published(target, "_SUCCESS"),
            s"${impl.name}: GC damaged a committed artifact")
        }
      }
    } finally Stage.deleteRecursively(root)
  }

  test("concurrent publishers of one artifact: exactly one winner, loser retires, commit never torn") {
    val root = java.nio.file.Files.createTempDirectory("graft_race").toFile
    // posix (rename mutual exclusion) and the RawLocal object-store
    // binding (CAS-verified pointer put). The checksummed LocalFS
    // binding runs the same protocol code but its .crc sidecars make
    // torn-window emulation nondeterministic locally — the store-side
    // atomicity it models is covered by the other two.
    try {
      Seq[FsOps](PosixFsOps, ObjectStoreFsOps).foreach { impl =>
        FsOps.withFs(impl) {
          (0 until 6).foreach { round =>
            val parent = new java.io.File(root, s"${impl.name}_$round")
            parent.mkdirs()
            val target = new java.io.File(parent, "art")
            val barrier = new java.util.concurrent.CyclicBarrier(2)
            val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
            def publish(tag: String) = pool.submit(
              new java.util.concurrent.Callable[String] {
                def call(): String = {
                  val tmp = Stage.stagingDir(target, "build")
                  tmp.mkdirs()
                  java.nio.file.Files.write(
                    new java.io.File(tmp, "payload.txt").toPath,
                    tag.getBytes("UTF-8"))
                  new java.io.File(tmp, "_SUCCESS").createNewFile()
                  barrier.await()
                  Stage.publishDir(tmp, target, "_SUCCESS")
                  tmp.getName
                }
              })
            try {
              val (fa, fb) = (publish("A"), publish("B"))
              fa.get(); fb.get()
              // the committed artifact resolves, carries its marker,
              // and its payload is EXACTLY one of the two builds
              assert(Stage.published(target, "_SUCCESS"),
                s"${impl.name} round $round: no committed artifact")
              val phys = Stage.resolved(target)
              val payload = new String(java.nio.file.Files.readAllBytes(
                new java.io.File(phys, "payload.txt").toPath), "UTF-8")
              assert(payload == "A" || payload == "B")
              // Loser cleanup: on a real store the conditional put is
              // atomic, so the loser retires synchronously. The local
              // check-then-act emulation can let a racer momentarily
              // read its own name before being overwritten and keep
              // its tree — the commit stays consistent, and the leaked
              // tree must then be CLASSIFIABLE AS DEBRIS: one GC sweep
              // leaves exactly the winner's home, never touching the
              // pointer-committed artifact.
              Stage.gcStagingDebris(parent, System.currentTimeMillis + 60000)
              val after = Option(parent.listFiles()).getOrElse(Array.empty)
                .filter(f => f.isDirectory && f.getName.contains(".build."))
                .map(_.getName).toSeq
              if (impl eq PosixFsOps)
                assert(after.isEmpty, // winner was RENAMED to the target
                  s"posix round $round: staging leaked past GC: $after")
              else
                assert(after === Seq(phys.getName),
                  s"${impl.name} round $round: GC left wrong trees: $after")
              assert(Stage.published(target, "_SUCCESS"),
                s"${impl.name} round $round: GC damaged the commit")
              val payload2 = new String(java.nio.file.Files.readAllBytes(
                new java.io.File(Stage.resolved(target), "payload.txt").toPath), "UTF-8")
              assert(payload2 === payload)
            } finally pool.shutdown()
          }
        }
      }
    } finally Stage.deleteRecursively(root)
  }

  test("object-store discipline: pointer commits, copies not links, vacuum safe") {
    wipeArtifacts()
    try {
      FsOps.withFs(ObjectStoreFsOps) {
        // restore publishes a NEW generation via pointer commit
        val restored = rows("p_restore")
        assert(restored.nonEmpty)
        val ttBase = new java.io.File(
          s"/tmp/graft_time_travel_${Stage.sourceFingerprint(sfDir, "events")}")
        val ptrs = Option(ttBase.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".ptr"))
        // EVERY generation commit is a pointer under this seam — the
        // three upsert generations AND the restore commit
        assert(ptrs.length === 4,
          s"expected all four generation commits pointer-published, got ${ptrs.length}")
        val logical = ptrs
          .map(p => new java.io.File(ttBase, p.getName.stripSuffix(".ptr")))
          .find(l => Stage.published(l, "_RESTORED"))
          .getOrElse(fail("no pointer-published generation carries _RESTORED"))
        assert(!logical.isDirectory,
          "the logical name must exist only as a commit record, never a renamed dir")
        val phys = Stage.resolved(logical)
        assert(phys.isDirectory && new java.io.File(phys, "_RESTORED").exists())
        // carried files are COPIES: no inode shared with gen1 (the
        // exact opposite of the POSIX clone contract — object stores
        // have no links, each generation owns its bytes)
        val g1Keys = parquets(
          Stage.resolved(new java.io.File(ttBase, "gen1"))).map(fileKey).toSet
        val restoredKeys = parquets(phys).map(fileKey).toSet
        assert(g1Keys.nonEmpty && restoredKeys.nonEmpty)
        assert(g1Keys.intersect(restoredKeys).isEmpty,
          "object-store carry must copy, never hard-link")
        // vacuum under copies: drop everything but the restored commit;
        // the survivor still serves its rows (no inode refcounting to
        // lean on — each generation owns its objects)
        val removed = graft.streaming.Streaming.vacuumGenerations(ttBase.getPath, keep = 1)
        assert(removed.contains("gen1") && removed.contains("gen3"))
        Stage.refreshArtifact(spark, phys)
        val after = spark.read.parquet(phys.getPath).count()
        assert(after > 0, "vacuum deleted bytes a kept generation owned")
        // the z-layout family publishes by pointer too (q_zorder_prune
        // forces the layout build; p_zorder computes values only)
        rows("q_zorder_prune")
        val layoutPtrs = Option(new java.io.File("/tmp").listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("graft_zorder_")
            && f.getName.endsWith(".ptr"))
        assert(layoutPtrs.nonEmpty, "z-layout publish left no pointer commit")
      }
    } finally {
      wipeArtifacts()
      assert(FsOps.current eq PosixFsOps)
    }
  }

  test("incremental z-order maintenance discovers pointer-published ancestors and carries by copy") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Layout
    val root = java.nio.file.Files.createTempDirectory("graft_zinc_objst").toFile
    val evDir = new java.io.File(root, "events.parquet"); evDir.mkdirs()
    val ev = graft.Tables.events(spark, sfDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = new java.io.File(root, "stage")
      df.coalesce(1).write.parquet(stage.getPath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new java.io.File(evDir, name).toPath)
      Stage.deleteRecursively(stage)
    }
    try {
      FsOps.withFs(ObjectStoreFsOps) {
        land(ev.filter(col("event_id") % 2 === 0), "day1a.parquet")
        land(ev.filter(col("event_id") % 2 === 1), "day1b.parquet")
        val (data1, _) = Layout.ensureZorderLayout(spark, root.getPath)
        // publish was a pointer commit: the physical home is the
        // unique staging dir, not the logical fingerprint name
        assert(new java.io.File(data1).getParentFile.getName.contains(".build."),
          s"expected a pointer-committed physical home, got $data1")
        def files(data: String) = new java.io.File(data).listFiles()
          .filter(_.getName.startsWith("bucket=")).flatMap(b =>
            b.listFiles().filter(_.getName.endsWith(".parquet"))
              .map(f => s"${b.getName}/${f.getName}" -> f)).toMap
        val day1Files = files(data1)
        // append a narrow z-region (one user × time band)
        val (uLo, uHi, tsLo, tsHi) = Layout.predicateBounds(spark, sfDir)
        land(ev.filter(col("user_id").between(uLo, uHi)
            && unix_micros(col("ts")).between(tsLo, tsHi))
          .withColumn("event_id", col("event_id") + 10000000L), "day2.parquet")
        val (data2, _) = Layout.ensureZorderLayout(spark, root.getPath)
        assert(data2 !== data1)
        // discovery found the POINTER-published ancestor: incremental,
        // not a full rebuild
        assert(new java.io.File(new java.io.File(data2).getParentFile,
          "_INCREMENTAL").exists(),
          "append did not take the incremental path under the object-store seam")
        val day2Files = files(data2)
        val shared = day2Files.keySet intersect day1Files.keySet
        assert(shared.nonEmpty, "no bucket file carried over untouched")
        // carried by COPY, never by link: same bytes, distinct file keys
        shared.foreach { k =>
          assert(day1Files(k).length === day2Files(k).length)
          assert(fileKey(day1Files(k)) !== fileKey(day2Files(k)),
            s"$k shares an inode — object-store carry must copy")
        }
        // the incremental layout holds EXACTLY day1+day2
        val cols = Seq("event_id", "user_id", "us", "event_type", "value")
        val got = spark.read.parquet(data2).select(cols.map(col): _*)
        val expected = graft.Tables.events(spark, root.getPath)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
        assert(got.exceptAll(expected).count() === 0)
        assert(expected.exceptAll(got).count() === 0)
      }
    } finally {
      graft.pipeline.Layout.wipeFamily(root.getPath)
      Stage.deleteRecursively(root)
    }
  }

  test("OPTIMIZE republish under the object-store seam: identity survives, answers unchanged") {
    wipeArtifacts()
    try {
      FsOps.withFs(ObjectStoreFsOps) {
        val before = rows("q_zorder_prune")
        val (dataPath, manifest) = graft.pipeline.Layout
          .compactLayout(spark, sfDir, targetBytes = Long.MaxValue)
        assert(new java.io.File(dataPath).isDirectory)
        assert(manifest.count() > 0)
        val after = rows("q_zorder_prune")
        assert(after === before, "compaction changed pruning answers")
      }
    } finally wipeArtifacts()
  }
}
