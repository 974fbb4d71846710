package graft

import org.apache.spark.sql.DataFrame

/** Hard optimizer boundary for staged expensive projections.
  *
  * Catalyst defeats softer barriers in two ways, both measured here:
  *  - CollapseProject / projection pushdown moves aliased expressions
  *    through `repartition()` exchanges and re-inlines them into every
  *    downstream reference (and `Generate` re-evaluates its child per
  *    OUTPUT row);
  *  - join-key null filters (`isnotnull(bucket)`) are pushed below the
  *    exchange with alias substitution, so the full signature
  *    expression lands in a scan-side Filter and is evaluated twice
  *    per row.
  *
  * An RDD roundtrip pins the projection: everything above it sees only
  * materialized attributes. Use it AFTER computing a column that is
  * (a) expensive and (b) referenced by joins, explodes, or multiple
  * downstream expressions. The staged payload should be narrow (ids +
  * signatures).
  */
object Stage {
  /** The fence is built at the InternalRow level
    * ([[org.apache.spark.sql.graftx.PlanBridge.barrier]]): a
    * `Scan ExistingRDD` leaf, recomputed per consumer, opaque to the
    * optimizer, with no per-row Row conversion.
    */
  def barrier(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftx.PlanBridge.barrier(df)

  /** Barrier + MATERIALIZE-ONCE: `barrier` pins expressions but its RDD
    * is still recomputed by every consuming stage — a subtree shared by
    * k stages runs k times (measured: the ngram-dedup signature pass,
    * the single most expensive kernel of its operator, ran 3×; wiring a
    * semi-join through a non-cached candidate set re-ran the whole
    * candidate pipeline per consumer and DOUBLED the query). This
    * persists at MEMORY_AND_DISK: the first consumer materializes, the
    * rest read the cache, Spark's LRU eviction bounds the footprint.
    * Use for subtrees that are BOTH expensive and multi-consumer; keep
    * the payload narrow (ids + signatures), same as barrier.
    *
    * CAVEAT — caching changes JOIN PLANNING: the cached relation
    * carries accurate (small) size stats where the barrier reports
    * unknown-size, and a downstream join can flip to broadcasting a
    * side whose EXPLODED row count the estimate never saw (measured:
    * caching d_simhash's 8 MB signature table re-planned its multiprobe
    * join and went 12.9 s → 140 s). Prefer cached only when the cached
    * payload is either clearly above the broadcast threshold or feeds
    * joins through aggregations, and re-measure the query after.
    */
  def cached(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Run `body` with the session confs `kvs` set, then put every key
    * back as it was — re-set to its prior value, or unset when it had
    * none — whether `body` returns or throws. The one way graft code
    * changes a session conf temporarily. A plan optimized lazily after
    * the scope closes sees the restored confs, so a conf-scoped query
    * must materialize inside `body`.
    */
  def withConf[A](s: org.apache.spark.sql.SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Invalidate every cached plan that reads `dir` after the artifact
    * at that path has been REPLACED in place.
    *
    * Why this must exist: the write-once artifacts (near-dup edges,
    * components, z-layout, format fixtures) are read back with
    * `spark.read.parquet(dir)` and often wrapped in [[cached]]. When
    * the directory is rebuilt at the SAME path — an interrupted build
    * retried, or a spec doctoring the table in place — a later
    * consumer's structurally-identical plan is matched by Spark's
    * CacheManager against the OLD InMemoryRelation and silently served
    * pre-rebuild rows (measured: the doctored single-edge centrality
    * table still reported 146 connected docs from the stale cache).
    * `refreshByPath` walks the cache for plans whose file relations
    * root at this path, refreshes their file indexes, and re-caches —
    * so the next action re-materializes from the new bytes. Every
    * `ensure*` rebuild branch calls this after publishing; any
    * out-of-band rewriter (the doctoring specs) must do the same.
    */
  def refreshArtifact(spark: org.apache.spark.sql.SparkSession,
      dir: java.io.File): Unit =
    spark.catalog.refreshByPath(dir.getAbsolutePath)

  /** The name fingerprint of every build-once /tmp artifact: the first
    * 8 bytes of md5(s) as lowercase hex. Truncated MD5, not
    * String.hashCode: 32-bit fingerprints collide plausibly across
    * revisions, and a collision would re-attach a stale artifact.
    */
  def fp(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  /** A source file or directory's state: `name:size:mtime` per child,
    * sorted by name and joined by `|`, for a directory; `size:mtime`
    * for a plain file. `_`-prefixed files (parquet `_SUCCESS` markers)
    * are INCLUDED: a marker's mtime changing only ever forces a
    * spurious rebuild, never a stale read. (Layout.sourceEntries keeps
    * its own filtered form because its entries double as the
    * incremental-build diff record, where a marker must not read as
    * new data.)
    */
  def fileStats(f: java.io.File): String =
    if (f.isDirectory)
      Option(f.listFiles()).map(_.sortBy(_.getName)
        .map(c => s"${c.getName}:${c.length}:${c.lastModified}").mkString("|"))
        .getOrElse("")
    else s"${f.length}:${f.lastModified}"

  /** [[fp]] of a source table's path and [[fileStats]] — the shared key
    * ingredient for every build-once /tmp artifact derived from driver
    * testdata: include it in the artifact dir/table name so a
    * REGENERATED source can never be served by a stale materialization.
    */
  def sourceFingerprint(d: String, table: String): String =
    fp(s"$d/$table;${fileStats(new java.io.File(s"$d/$table.parquet"))}")

  /** Recursive delete for fixture/layout directories (the one shared
    * copy — null-guarded: listFiles() returns null on IO error or
    * non-directories racing deletion).
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete()
    ()
  }

  /** Carry every parquet of `from` into `to` (copying non-parquet
    * markers) — the zero-rewrite tree walk shared by shallow clone and
    * restore. Under [[graft.fs.PosixFsOps]] data files are hard links
    * (bytes exist once, new name graph over the same inodes); under
    * [[graft.fs.ObjectStoreFsOps]] they are object copies (each
    * generation owns its objects — no inode refcounting on S3).
    */
  def linkTree(from: java.io.File, to: java.io.File): Unit = {
    // Fail fast on a missing source: defaulting to "empty" would let a
    // caller (restore/clone) publish an EMPTY tree sealed with its done
    // marker — a wedged artifact the marker gate would never rebuild.
    require(from.isDirectory, s"link source missing: $from")
    to.mkdirs()
    Option(from.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory) linkTree(f, new java.io.File(to, f.getName))
      else if (f.getName.endsWith(".parquet"))
        carryFile(f, new java.io.File(to, f.getName))
      else if (!f.getName.startsWith("."))
        // dotfiles are FS-internal sidecars (ChecksumFileSystem's
        // `.name.crc`), regenerated by whatever store the carry writes
        // through — carrying them would duplicate what carryFile's own
        // FileSystem already produced
        java.nio.file.Files.copy(f.toPath, to.toPath.resolve(f.getName))
    }
  }

  /** File↔Path adapters: the seam itself is typed over Hadoop
    * `Path`/`FileSystem` (so the object-store impl binds `s3a://` in
    * production), while the local /tmp artifact plumbing in this repo
    * speaks `java.io.File`. The conversion lives HERE, once — product
    * code never constructs seam paths by hand.
    */
  private def asPath(f: java.io.File): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(f.getAbsolutePath)
  private def asFile(p: org.apache.hadoop.fs.Path): java.io.File =
    new java.io.File(p.toUri.getPath)

  /** Atomically publish `tmp` as `target` where the DONE MARKER was
    * already written INSIDE tmp (no window where a published directory
    * lacks its marker). POSIX = dir rename; object store = pointer-
    * object commit (see [[graft.fs.FsOps]]). A publish lost to a
    * concurrent publisher cleans up its staging tree; any other
    * failure throws.
    */
  def publishDir(tmp: java.io.File, target: java.io.File, marker: String): Unit =
    graft.fs.FsOps.current.publishDir(asPath(tmp), asPath(target), marker)

  /** Seam-provided UNIQUE staging dir for building the next version of
    * `target` (see [[graft.fs.FsOps.stagingDir]]).
    */
  def stagingDir(target: java.io.File, suffix: String): java.io.File =
    asFile(graft.fs.FsOps.current.stagingDir(asPath(target), suffix))

  /** Carry one data file into a new generation through the seam:
    * hard link under POSIX, server-side object copy on a store.
    */
  def carryFile(src: java.io.File, dst: java.io.File): Unit =
    graft.fs.FsOps.current.carryFile(asPath(src), asPath(dst))

  /** Seam-provided unique staging path for a SINGLE-FILE artifact
    * build (see [[graft.fs.FsOps.stagingFile]]).
    */
  def stagingFile(target: java.io.File, suffix: String): java.io.File =
    asFile(graft.fs.FsOps.current.stagingFile(asPath(target), suffix))

  /** Atomically publish a single-file artifact through the seam
    * (see [[graft.fs.FsOps.publishFile]]).
    */
  def publishFile(tmp: java.io.File, target: java.io.File): Unit =
    graft.fs.FsOps.current.publishFile(asPath(tmp), asPath(target))

  /** Retire a torn/malformed single-file artifact so a rebuild's
    * [[publishFile]] (create-if-absent) can land. Only the BUILDER of
    * the artifact may call this, and only after its own read rejected
    * the bytes: a readable file at the same name is a racer's finished
    * work (bytes are deterministic per name) and must stay.
    */
  def retireTornArtifact(f: java.io.File): Unit =
    graft.fs.FsOps.current.deleteDebris(asPath(f))

  /** Logical child names under `parent` through the seam (real dirs
    * plus pointer-published names).
    */
  def logicalNames(parent: java.io.File): Seq[String] =
    graft.fs.FsOps.current.logicalNames(asPath(parent))

  /** REPLACE an already-published `target` with staging tree `tmp`
    * (see [[graft.fs.FsOps.republishDir]]).
    */
  def republishDir(tmp: java.io.File, target: java.io.File, marker: String): Unit =
    graft.fs.FsOps.current.republishDir(asPath(tmp), asPath(target), marker)

  /** Sweep uncommitted staging debris under `parent` older than
    * `cutoffMs` (crash/lost-race leftovers of the unique-staging-name
    * discipline — never part of a published artifact). The cutoff the
    * vacuum path uses is the newest LIVE commit's mtime: anything
    * staged before the current commit can no longer be an in-flight
    * build of the next one. Returns the deleted names.
    */
  def gcStagingDebris(parent: java.io.File, cutoffMs: Long): Seq[String] = {
    val doomed = graft.fs.FsOps.current.stagingDebris(asPath(parent))
      .filter { case (_, mtime) => mtime < cutoffMs }
    doomed.foreach { case (p, _) => graft.fs.FsOps.current.deleteDebris(p) }
    doomed.map(_._1.getName)
  }

  /** The physical directory Spark should read for published name
    * `target` (identity under POSIX; pointer-dereference under the
    * object-store seam). Every reader of a publishDir-published
    * artifact must resolve through this.
    */
  def resolved(target: java.io.File): java.io.File =
    asFile(graft.fs.FsOps.current.resolveDir(asPath(target)))

  /** Is `target` published (its physical dir carries `marker`)? The
    * gate check every ensure* builder runs before rebuilding.
    */
  def published(target: java.io.File, marker: String): Boolean =
    try new java.io.File(resolved(target), marker).exists()
    catch {
      case _: graft.fs.TornCommitException =>
        // a crashed publisher's stuck-empty pointer (resolveDir's
        // "torn commit record"): clear it — deterministically
        // unpublished — so the caller's rebuild can commit fresh
        // instead of every future resolve throwing forever. The catch
        // is narrowed to the dedicated torn-record type (never a
        // generic ISE), and clearTornCommit itself re-checks the
        // pointer is STILL empty before deleting, so a racing
        // publisher's just-completed commit cannot be lost here.
        graft.fs.FsOps.current.clearTornCommit(asPath(target))
        false
    }

  /** Remove a published artifact through the seam: commit record
    * first, then the physical tree (see FsOps.deletePublished).
    */
  def deletePublished(target: java.io.File): Unit =
    graft.fs.FsOps.current.deletePublished(asPath(target))

  /** Build-once artifact through the filesystem seam: if `base` is not
    * published, clear debris, run `build` into a staging dir, and
    * publish atomically (the marker — parquet's own _SUCCESS by
    * default — is written inside the staging tree by the write
    * itself, so publish makes data+marker visible in one step).
    * Returns the PHYSICAL directory to read. The one build-once path
    * for every fingerprinted write-once directory (MVs, dedup indexes,
    * components, bloom index, clone, query and stream fixtures).
    */
  def ensureArtifact(s: org.apache.spark.sql.SparkSession, base: java.io.File,
      marker: String = "_SUCCESS")(build: java.io.File => Unit): java.io.File = {
    if (!published(base, marker)) {
      deletePublished(base) // unmarked partial only
      val tmp = stagingDir(base, "build")
      build(tmp)
      publishDir(tmp, base, marker)
      refreshArtifact(s, resolved(base))
    }
    resolved(base)
  }
}
