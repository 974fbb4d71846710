package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.pipeline.{FileStatusStore, InMemoryStatusStore, Runner, StatusStore}

/** The StatusStore conditional-write guard — the reference's DynamoDB
  * conditional put (dynamodb.py:42-60: a second driver must not flip a
  * row it does not own) as a compare-and-set contract on the trait,
  * proven under concurrent updaters for both the in-memory impl and
  * the file-backed one (two stores on one directory = two drivers on
  * one status table), plus the driver loop refusing to double-enter a
  * collection that is IN_PROGRESS under another driver.
  */
class StatusStoreSpec extends SparkSpec {

  private def freshDir(tag: String): java.io.File = {
    val d = new java.io.File(s"/tmp/graft_statusstore_$tag")
    Stage.deleteRecursively(d)
    d
  }

  /** Race `n` concurrent entry attempts; return how many CAS wins. */
  private def raceEntry(stores: Seq[StatusStore], corr: String, product: String): Int = {
    val n = stores.length
    val pool = Executors.newFixedThreadPool(n)
    val gate = new CountDownLatch(1)
    try {
      val futures = stores.map { st =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            st.compareAndSetStatus(corr, product, None,
              StatusStore.InProgress, "2021-06-15")
          }
        })
      }
      gate.countDown()
      futures.count(_.get(30, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("CAS contract: N racing None→IN_PROGRESS entries produce exactly one winner (both impls)") {
    val mem = new InMemoryStatusStore
    assert(raceEntry(Seq.fill(16)(mem), "c1", "CDI-db:coll") === 1)

    // file-backed: SIXTEEN SEPARATE STORE INSTANCES on one directory —
    // the two-drivers shape (in-JVM the companion monitor serializes,
    // across JVMs the OS file lock does; both paths funnel every
    // mutation through the same read-adjudicate-write critical section)
    val dir = freshDir("race")
    val stores = Seq.fill(16)(new FileStatusStore(dir))
    assert(raceEntry(stores, "c1", "CDI-db:coll") === 1)
    assert(stores.head.getStatus("c1", "CDI-db:coll") === Some(StatusStore.InProgress))
    Stage.deleteRecursively(dir)
  }

  test("CAS mismatch leaves the row untouched; matched transition lands and merges extras") {
    Seq[StatusStore](new InMemoryStatusStore,
        new FileStatusStore(freshDir("cas"))).foreach { st =>
      // wrong expectation on a missing row
      assert(!st.compareAndSetStatus("c", "p", Some(StatusStore.Completed),
        StatusStore.InProgress, "2021-06-15"))
      assert(st.getStatus("c", "p") === None)
      // entry, then a stale CAS (still expecting None) must lose
      assert(st.compareAndSetStatus("c", "p", None, StatusStore.InProgress, "2021-06-15"))
      assert(!st.compareAndSetStatus("c", "p", None, StatusStore.InProgress, "2021-06-15"))
      assert(st.getStatus("c", "p") === Some(StatusStore.InProgress))
      // matched transition with extras merge
      assert(st.compareAndSetStatus("c", "p", Some(StatusStore.InProgress),
        StatusStore.Completed, "2021-06-15", Map("S3_Prefix_CDI_Export" -> "/x")))
      assert(st.getStatus("c", "p") === Some(StatusStore.Completed))
      assert(st.getExtras("c", "p") === Map("S3_Prefix_CDI_Export" -> "/x"))
    }
  }

  test("FileStatusStore: rows and extras survive a driver restart (new instance, same dir)") {
    val dir = freshDir("restart")
    val a = new FileStatusStore(dir)
    a.updateStatus("c", "CDI-db:coll", StatusStore.Completed, "2021-06-15",
      Map("CDI_Export_Date" -> "2021-06-15"))
    a.updateStatus("c", "CDI-db:coll", StatusStore.Completed, "2021-06-15",
      Map("S3_Prefix_CDI_Export" -> "/exports/x"))
    val b = new FileStatusStore(dir)
    assert(b.getStatus("c", "CDI-db:coll") === Some(StatusStore.Completed))
    assert(b.getExtras("c", "CDI-db:coll") ===
      Map("CDI_Export_Date" -> "2021-06-15", "S3_Prefix_CDI_Export" -> "/exports/x"))
    Stage.deleteRecursively(dir)
  }

  test("runRange refuses to double-enter a collection another driver holds IN_PROGRESS") {
    val store = new InMemoryStatusStore
    store.updateStatus("local", "CDI-db:coll", StatusStore.InProgress, "2021-06-15")
    val e = intercept[IllegalStateException] {
      new Runner(spark, store).runRange("/nonexistent", "2021-06-15", "2021-06-15",
        "db", "coll", "/tmp/never_written")
    }
    assert(e.getMessage.contains("refusing to double-enter"))
    // the loser wrote NOTHING: status untouched, no output tree
    assert(store.getStatus("local", "CDI-db:coll") === Some(StatusStore.InProgress))
    assert(store.history.count(_._3 == StatusStore.Failed) === 0)
    assert(!new java.io.File("/tmp/never_written").exists())
  }

  test("runRange re-enters COMPLETED and FAILED rows (rerun semantics preserved)") {
    // a prior COMPLETED run must not block a rerun — only a LIVE
    // IN_PROGRESS does
    val store = new InMemoryStatusStore
    store.updateStatus("local", "CDI-db:coll", StatusStore.Completed, "2021-06-14")
    val e = intercept[Exception] {
      // missing source data: the run ENTERS (flips to IN_PROGRESS),
      // then fails on the read and marks FAILED — proving entry was
      // granted for a COMPLETED row
      new Runner(spark, store).runRange("/nonexistent", "2021-06-15", "2021-06-15",
        "db", "coll", "/tmp/never_written2")
    }
    assert(!e.isInstanceOf[IllegalStateException] ||
      !e.getMessage.contains("refusing to double-enter"))
    assert(store.getStatus("local", "CDI-db:coll") === Some(StatusStore.Failed))
  }

  // ---- Relauncher (reference: emr-relauncher MAX_RETRY_COUNT sweep) ----

  /** Metrics recorder for the relauncher's alarm surface. */
  private final class RecordingSink extends graft.pipeline.MetricsSink {
    val counters = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Map[String, String])]
    override def counter(n: String, v: Long, t: Map[String, String]): Unit =
      synchronized { counters += ((n, v, t)); () }
    override def gauge(n: String, v: Double, t: Map[String, String]): Unit = ()
    override def timing(n: String, v: Long, t: Map[String, String]): Unit = ()
  }

  test("scanByStatus returns FAILED rows with exact keys and extras (both impls)") {
    Seq[StatusStore](new InMemoryStatusStore,
        new FileStatusStore(freshDir("scan"))).foreach { store =>
      store.updateStatus("corr-1", "CDI-db:collA", StatusStore.Failed,
        "2021-06-15", Map("S3_Prefix_CDI_Export" -> "/exports/a"))
      store.updateStatus("corr-1", "CDI-db:collB", StatusStore.Completed, "2021-06-15")
      store.updateStatus("corr-2", "CDI-db:collA", StatusStore.Failed, "2021-06-16")
      val failed = store.scanByStatus(StatusStore.Failed)
      assert(failed.map(r => (r.correlationId, r.dataProduct)).toSet ===
        Set(("corr-1", "CDI-db:collA"), ("corr-2", "CDI-db:collA")),
        s"impl ${store.getClass.getSimpleName}")
      val a = failed.find(_.correlationId == "corr-1").get
      assert(a.exportDate === "2021-06-15")
      assert(a.extra.get("S3_Prefix_CDI_Export") === Some("/exports/a"))
      assert(store.scanByStatus(StatusStore.InProgress).isEmpty)
    }
  }

  test("relauncher race: two sweeps over one FAILED row elect exactly one winner; retry count moves once") {
    // two FileStatusStore instances over one directory: the
    // two-drivers shape, with the CAS adjudicated across instances
    val dir = freshDir("relaunch_race")
    val seed = new FileStatusStore(dir)
    seed.updateStatus("c1", "CDI-db:coll", StatusStore.Failed, "2021-06-15")
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val sink = new RecordingSink
    // two independent store instances, raced from the same scan state
    val reports = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = (1 to 2).map { _ =>
          pool.submit(new java.util.concurrent.Callable[graft.pipeline.Relauncher.Report] {
            override def call() = {
              val r = new graft.pipeline.Relauncher(
                new FileStatusStore(dir), maxRetryCount = 3, metrics = () => sink)
              gate.await()
              r.relaunch { _ => ran.incrementAndGet(); () }
            }
          })
        }
        gate.countDown()
        futs.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
    }
    assert(ran.get() === 1, "exactly one sweep runs the re-submission")
    assert(reports.map(_.relaunched.size).sum === 1)
    assert(seed.getStatus("c1", "CDI-db:coll") === Some(StatusStore.Completed))
    // the CAS carried the increment exactly once
    assert(seed.getExtras("c1", "CDI-db:coll")
      .get(graft.pipeline.Relauncher.RetryCountAttr) === Some("1"))
    assert(sink.counters.count(_._1 == "relauncher.relaunch") === 1)
    Stage.deleteRecursively(dir)
  }

  test("relauncher exhaustion: a MAX_RETRY row stays FAILED, action never runs, terminal alert metric emitted") {
    val store = new InMemoryStatusStore
    store.updateStatus("c1", "CDI-db:coll", StatusStore.Failed, "2021-06-15",
      Map(graft.pipeline.Relauncher.RetryCountAttr -> "2"))
    val sink = new RecordingSink
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val report = new graft.pipeline.Relauncher(store, maxRetryCount = 2,
      metrics = () => sink).relaunch(_ => { ran.incrementAndGet(); () })
    assert(ran.get() === 0)
    assert(report.exhausted === Seq(("c1", "CDI-db:coll")))
    assert(store.getStatus("c1", "CDI-db:coll") === Some(StatusStore.Failed))
    assert(store.getExtras("c1", "CDI-db:coll")
      .get(graft.pipeline.Relauncher.RetryCountAttr) === Some("2"),
      "an exhausted row's counter must not move")
    val terminal = sink.counters.filter(_._1 == "relauncher.terminal")
    assert(terminal.size === 1)
    assert(terminal.head._3.get("data_product") === Some("CDI-db:coll"))
  }

  test("relauncher retry ladder: a persistently failing run walks FAILED→…→exhausted with exact counts") {
    val store = new InMemoryStatusStore
    store.updateStatus("c1", "CDI-db:coll", StatusStore.Failed, "2021-06-15")
    val sink = new RecordingSink
    val rl = new graft.pipeline.Relauncher(store, maxRetryCount = 2,
      metrics = () => sink)
    val boom: StatusStore.ScanRow => Unit =
      _ => throw new RuntimeException("still broken")
    val r1 = rl.relaunch(boom)
    assert(r1.relaunched.size === 1 && r1.failedAgain.size === 1)
    assert(store.getExtras("c1", "CDI-db:coll")
      .get(graft.pipeline.Relauncher.RetryCountAttr) === Some("1"))
    val r2 = rl.relaunch(boom)
    assert(r2.relaunched.size === 1)
    assert(store.getExtras("c1", "CDI-db:coll")
      .get(graft.pipeline.Relauncher.RetryCountAttr) === Some("2"))
    val r3 = rl.relaunch(boom)
    assert(r3.relaunched.isEmpty && r3.exhausted.size === 1)
    assert(store.getStatus("c1", "CDI-db:coll") === Some(StatusStore.Failed))
    assert(sink.counters.count(_._1 == "relauncher.failed") === 2)
    assert(sink.counters.count(_._1 == "relauncher.terminal") === 1)
    // a recovered sibling in the same sweep is untouched by the bad row
    store.updateStatus("c1", "CDI-db:other", StatusStore.Failed, "2021-06-15")
    val r4 = rl.relaunch(_ => ())
    assert(r4.recovered === Seq(("c1", "CDI-db:other")))
    assert(r4.exhausted === Seq(("c1", "CDI-db:coll")))
    assert(store.getStatus("c1", "CDI-db:other") === Some(StatusStore.Completed))
  }
}
