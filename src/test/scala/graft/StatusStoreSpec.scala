package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.pipeline.{InMemoryStatusStore, Runner, StatusStore}

/** The StatusStore conditional-write guard — the reference's DynamoDB
  * conditional put (dynamodb.py:42-60: a second driver must not flip a
  * row it does not own) as a compare-and-set contract on the trait,
  * proven under concurrent updaters for the in-memory impl, plus the
  * driver loop refusing to double-enter a collection that is
  * IN_PROGRESS under another driver.
  */
class StatusStoreSpec extends SparkSpec {

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

  test("CAS contract: N racing None→IN_PROGRESS entries produce exactly one winner") {
    val mem = new InMemoryStatusStore
    assert(raceEntry(Seq.fill(16)(mem), "c1", "CDI-db:coll") === 1)
    assert(mem.getStatus("c1", "CDI-db:coll") === Some(StatusStore.InProgress))
  }

  test("CAS mismatch leaves the row untouched; matched transition lands and merges extras") {
    val st = new InMemoryStatusStore
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

  test("scanByStatus returns FAILED rows with exact keys and extras") {
    val store = new InMemoryStatusStore
    store.updateStatus("corr-1", "CDI-db:collA", StatusStore.Failed,
      "2021-06-15", Map("S3_Prefix_CDI_Export" -> "/exports/a"))
    store.updateStatus("corr-1", "CDI-db:collB", StatusStore.Completed, "2021-06-15")
    store.updateStatus("corr-2", "CDI-db:collA", StatusStore.Failed, "2021-06-16")
    val failed = store.scanByStatus(StatusStore.Failed)
    assert(failed.map(r => (r.correlationId, r.dataProduct)).toSet ===
      Set(("corr-1", "CDI-db:collA"), ("corr-2", "CDI-db:collA")))
    val a = failed.find(_.correlationId == "corr-1").get
    assert(a.exportDate === "2021-06-15")
    assert(a.extra.get("S3_Prefix_CDI_Export") === Some("/exports/a"))
    assert(store.scanByStatus(StatusStore.InProgress).isEmpty)
  }
}
