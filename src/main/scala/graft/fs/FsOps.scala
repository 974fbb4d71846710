package graft.fs

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path, RawLocalFileSystem}

/** Filesystem seam for the generational layout/state machinery.
  *
  * Every Delta-parity verb in this repo — z-order layouts, incremental
  * OPTIMIZE, time travel/CDF, clone, restore, vacuum, bloom-index
  * publish, and the streaming generational state — needs exactly three
  * filesystem capabilities beyond what Spark's own writers provide:
  *
  *  1. '''carry''' a data file from one generation into the next
  *     without rewriting its bytes;
  *  2. '''publish''' a fully-built staging tree atomically under a
  *     well-known name, first-writer-wins under races;
  *  3. '''resolve''' a published name back to the directory Spark
  *     should read.
  *
  * On POSIX these are hard link, dir rename, and identity. On the
  * object stores the reference actually targets (its production home
  * is S3 — processed_bucket.tf / published_bucket.tf; the ingesters
  * read `corporate_storage/...` S3 prefixes, ingesters.py:468-487)
  * NONE of the POSIX forms exist: there are no hard links, and
  * "renaming" a prefix is a non-atomic per-object copy+delete. What an
  * object store DOES give you is (a) server-side single-object COPY
  * and (b) atomic single-object PUT (conditional PUT-if-absent since
  * S3's 2024 If-None-Match support) — which is precisely the primitive
  * Delta/Iceberg commit protocols are built on.
  *
  * The seam is typed over Hadoop `Path`/`FileSystem` — the API every
  * real store binds through (`s3a://` in production, HDFS, or the
  * local filesystems in tests) — so [[ObjectStoreFsOps]] is one
  * protocol over whatever `FileSystem` the deployment names:
  *
  *  - carry   = object COPY (`FileUtil.copy`, which S3A maps to a
  *              server-side copy; bytes are duplicated store-side, so
  *              generation GC needs no inode refcounting — each
  *              generation owns its objects);
  *  - publish = the staging PREFIX becomes the physical home (nothing
  *              is ever renamed); commit is one conditional
  *              PUT-if-absent of a tiny pointer object `<name>.ptr`
  *              whose content names the physical prefix — in the
  *              Hadoop API, `create(ptr, overwrite = false)`, which
  *              S3A implements as an If-None-Match conditional PUT and
  *              HDFS as an atomic namespace create. Losing the
  *              conditional put = lost race: delete your staging tree,
  *              the winner's commit stands (exactly Delta's
  *              `_delta_log/N.json`-mutual-exclusion contract);
  *  - resolve = read the pointer object.
  *
  * What the object-store impl NEVER does is rename or link a DATA file
  * or directory. Spark's own task-commit renames inside
  * `df.write.parquet(dir)` are out of this seam's scope: on a real
  * deployment that layer is the S3A magic / zero-rename committer, a
  * solved problem orthogonal to the repo's publish machinery.
  *
  * The active implementation is a process-wide `@volatile` var (not a
  * ThreadLocal: streaming foreachBatch bodies run on the stream
  * execution thread, which must see the same seam as the spec thread
  * that scoped it).
  */
/** A commit pointer stuck empty past the in-flight grace window — the
  * torn-commit-record condition (a publisher crashed mid-pointer-put on
  * a non-atomic local FS). A dedicated type so gate checks
  * ([[graft.Stage.published]]) repair ONLY this condition and never
  * swallow — or act on — an unrelated IllegalStateException.
  */
final class TornCommitException(msg: String) extends IllegalStateException(msg)

trait FsOps {
  def name: String

  /** Place `src`'s bytes at `dst` without rewriting them through
    * Spark: POSIX = hard link (same inode, zero IO); object store =
    * server-side copy.
    */
  def carryFile(src: Path, dst: Path): Unit

  /** Atomically publish staging tree `tmp` as `target`; the done
    * `marker` file was already written INSIDE tmp, so no reader can
    * observe a published directory without its marker. First writer
    * wins: a lost race deletes the loser's staging tree; any other
    * failure throws.
    */
  def publishDir(tmp: Path, target: Path, marker: String): Unit

  /** The physical directory to read for published name `target`
    * (identity when no pointer exists — generation dirs written
    * directly by Spark resolve to themselves).
    */
  def resolveDir(target: Path): Path

  /** Logical child names under `parent`: real directories plus
    * pointer-published names. Generation discovery (restore, vacuum)
    * must use this, not a raw listing, to see pointer-published
    * generations.
    */
  def logicalNames(parent: Path): Seq[String]

  /** Remove a published artifact entirely: the commit record first
    * (so no reader can resolve to a half-deleted tree), then the
    * physical tree. POSIX = recursive delete; object store = delete
    * the pointer object, then the physical prefix. Rebuild-in-place
    * paths (stale-layout upgrades, vacuum) must use this, never a
    * bare recursive delete of the logical name.
    */
  def deletePublished(target: Path): Unit

  /** REPLACE an already-published `target` with staging tree `tmp`
    * (OPTIMIZE/compaction: the fingerprint-addressed name IS the
    * layout's identity and must survive the swap). POSIX = the
    * stage-out double rename; object store = one atomic pointer-object
    * replace (a plain PUT — readers see the old commit or the new one,
    * never an intermediate), after which the superseded physical tree
    * is deleted (carried files were COPIED into the new tree, so the
    * old one owns nothing the new one needs).
    */
  def republishDir(tmp: Path, target: Path, marker: String): Unit

  /** A staging directory for building the next version of `target`,
    * UNIQUE per build on every impl: on an object store the staging
    * tree BECOMES the physical home, so a reused name would delete the
    * live generation it is about to replace; and even under POSIX two
    * concurrent builders of the same artifact sharing a fixed staging
    * name could interleave writes into one tree and publish a MIXED
    * build sealed with a valid marker — rename works from any sibling
    * path, so uniqueness costs nothing. Crash debris under unique
    * names is vacuum's job ([[stagingDebris]]), exactly as uncommitted
    * Delta/Iceberg data files are.
    */
  def stagingDir(target: Path, suffix: String): Path

  /** Staging/commit debris under `parent`: entries matching the
    * unique-staging name pattern that are NOT the physical home of any
    * live pointer commit, with their modification times. These are
    * uncommitted crash/lost-race leftovers — never part of a published
    * artifact — and are safe to delete once old enough that no
    * in-flight build can still own them (the age gate is the
    * caller's: compare against the newest live commit).
    */
  def stagingDebris(parent: Path): Seq[(Path, Long)]

  /** Delete an UNCOMMITTED tree (staging debris). Published artifacts
    * must go through [[deletePublished]] instead — this verb never
    * touches commit records.
    */
  def deleteDebris(tree: Path): Unit

  /** A unique sibling staging path for building a SINGLE-FILE artifact
    * — same name discipline as [[stagingDir]], so a crashed build's
    * leftover is ordinary [[stagingDebris]].
    */
  def stagingFile(target: Path, suffix: String): Path =
    new Path(target.getParent,
      target.getName + "." + FsOps.uniqueSuffix(suffix))

  /** Atomically publish the single file `tmp` as `target` — the
    * small-artifact counterpart of [[publishDir]] (no pointer object:
    * the file itself is the commit). Callers must build
    * DETERMINISTIC bytes per target name (the artifact name
    * fingerprints its inputs), so whichever racer's commit survives,
    * readers see one complete, correct artifact and losers discard.
    * POSIX = atomic rename; object store = single-object conditional
    * PUT. Readers that can observe a non-atomic local write must
    * carry their own torn-file guard (e.g. the codebook trailer in
    * graft.operators.Ann) — on the real stores the PUT is atomic.
    */
  def publishFile(tmp: Path, target: Path): Unit

  /** Remove a TORN commit record for `target` — the stuck-empty
    * pointer a publisher that crashed mid-put leaves on a non-atomic
    * local FS (resolveDir reports it by throwing). Clearing it returns
    * the artifact to "unpublished" so a rebuild can commit fresh;
    * without this, a torn record poisons every later resolve forever.
    * No-op where the commit is an atomic rename (POSIX — there is no
    * record to tear).
    */
  def clearTornCommit(target: Path): Unit = ()
}

object FsOps {
  @volatile var current: FsOps = PosixFsOps

  /** Bind the process-wide seam from `SPARK_GRAFT_FS`
    * (`posix|hadoop|objectstore`) — the ONE binding used by every
    * entry point (Verify, Bench), so a typo'd value can never silently
    * bench POSIX while claiming another route: unknown values WARN (to
    * stderr, tagged with the caller) and keep POSIX, and the active
    * seam is always logged. A real store binds as `hadoop`, with an
    * `s3a://` root routed through the session's Hadoop configuration.
    */
  def bindFromEnv(tag: String): Unit = {
    sys.env.get("SPARK_GRAFT_FS").foreach {
      case "hadoop"      => current = HadoopFsOps
      case "objectstore" => current = ObjectStoreFsOps
      case "posix" | ""  => ()
      case other =>
        System.err.println(s"[$tag] unknown SPARK_GRAFT_FS '$other', keeping posix")
    }
    System.err.println(s"[$tag] fs seam: ${current.name}")
  }

  /** Scope `ops` as the process-wide seam for `body` (specs only —
    * production picks one impl at deploy time). Serialized because the
    * seam is process-wide state.
    */
  def withFs[A](ops: FsOps)(body: => A): A = synchronized {
    val prev = current
    current = ops
    try body finally current = prev
  }

  /** `<name>.<suffix>.<uuid8>` — the unique staging name shape every
    * impl's [[FsOps.stagingDir]] produces (plus the pointer-put
    * `.ptr.put.<uuid>` temporaries); [[FsOps.stagingDebris]] matches
    * against it.
    */
  private[fs] val StagingName = """.+\.[A-Za-z]+\.[0-9a-f]{8}""".r
  private[fs] val PtrPutName = """.+\.ptr\.put\..+""".r
  private[fs] def isStagingName(n: String): Boolean =
    StagingName.matches(n) || PtrPutName.matches(n)
  // NOTE: `.pre_swap` is deliberately NOT debris — during a POSIX
  // republish it is the ONLY copy of the live data (its mtime is the
  // old build's, so no age gate protects it); republishDir itself
  // removes it on success and restores it on a failed swap.
  private[fs] def uniqueSuffix(suffix: String): String =
    suffix + "." + java.util.UUID.randomUUID.toString.take(8)
}

/** The POSIX implementation: hard links + atomic dir rename. The ONLY
  * impl allowed to touch `java.io.File` — everything object-store
  * shaped goes through the Hadoop `FileSystem` API so it can bind a
  * real store.
  */
object PosixFsOps extends FsOps {
  val name = "posix"

  private def f(p: Path): File = new File(p.toUri.getPath)

  def carryFile(src: Path, dst: Path): Unit =
    java.nio.file.Files.createLink(f(dst).toPath, f(src).toPath)

  def publishDir(tmp: Path, target: Path, marker: String): Unit = {
    if (!f(tmp).renameTo(f(target))) {
      if (new File(f(target), marker).exists()) deleteTree(f(tmp))
      else throw new IllegalStateException(
        s"cannot publish ${f(tmp).getName} as $target")
    }
  }

  def resolveDir(target: Path): Path = target

  def logicalNames(parent: Path): Seq[String] =
    Option(f(parent).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSeq

  def deletePublished(target: Path): Unit = deleteTree(f(target))

  def republishDir(tmp: Path, target: Path, marker: String): Unit = {
    val t = f(target)
    val pre = new File(t.getPath + ".pre_swap")
    // heal the stage-out crash window first: a republish that died
    // between its two renames left the live data ONLY in .pre_swap
    // (target absent). Restore it before treating pre as stale debris —
    // the old code's unconditional deleteTree(pre) destroyed the only
    // copy on a post-crash retry.
    if (!t.exists() && pre.exists() && !pre.renameTo(t))
      throw new IllegalStateException(s"cannot restore $pre after crashed swap")
    deleteTree(pre)
    if (!t.renameTo(pre))
      throw new IllegalStateException(s"cannot stage out $target for swap")
    if (!f(tmp).renameTo(t)) {
      pre.renameTo(t)
      throw new IllegalStateException(s"swap failed for $target")
    }
    deleteTree(pre)
  }

  def stagingDir(target: Path, suffix: String): Path =
    new Path(target.getParent,
      target.getName + "." + FsOps.uniqueSuffix(suffix))

  def stagingDebris(parent: Path): Seq[(Path, Long)] =
    Option(f(parent).listFiles()).getOrElse(Array.empty)
      .filter(c => FsOps.isStagingName(c.getName))
      .map(c => (new Path(parent, c.getName), c.lastModified)).toSeq

  def deleteDebris(tree: Path): Unit = deleteTree(f(tree))

  def publishFile(tmp: Path, target: Path): Unit =
    try java.nio.file.Files.move(f(tmp).toPath, f(target).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      // a racer's rename won (or the FS refused the move): the bytes
      // are deterministic per name, so retire our build
      case _: java.nio.file.FileSystemException => f(tmp).delete(); ()
    }

  // one shared recursive delete for the whole codebase
  private def deleteTree(file: File): Unit = graft.Stage.deleteRecursively(file)
}

/** The object-store protocol over a Hadoop [[FileSystem]]: copies +
  * pointer-object commits. Data files and directories are NEVER
  * renamed or linked; the only atomic operation relied on is the
  * single-object pointer put (`create(overwrite = false)` — S3A's
  * conditional PUT, HDFS's atomic namespace create; the local
  * filesystems model the capability).
  *
  * `fsFor` names the store: tests bind [[RawLocalFileSystem]] (class
  * companion) or the configuration-routed scheme lookup
  * ([[HadoopFsOps]], which resolves `s3a://...` to the real S3A
  * client in production and the checksummed `LocalFileSystem` for
  * local paths).
  */
class ObjectStoreFsOps(fsFor: Path => FileSystem, val name: String)
    extends FsOps {

  private def ptrFile(target: Path): Path =
    new Path(target.getParent, target.getName + ".ptr")

  def carryFile(src: Path, dst: Path): Unit = {
    val fs = fsFor(src)
    if (!FileUtil.copy(fs, src, fsFor(dst), dst, false, FsBindings.conf))
      throw new IllegalStateException(s"object copy failed: $src -> $dst")
  }

  private def writeTo(fs: FileSystem, p: Path, content: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def publishDir(tmp: Path, target: Path, marker: String): Unit = {
    val fs = fsFor(target)
    require(fs.exists(new Path(tmp, marker)),
      s"staging tree $tmp lacks its $marker marker")
    // commit = conditional put-if-absent of the pointer object; the
    // staging tree IS the physical home and never moves. On the stores
    // that matter the whole create+write+close is ONE atomic
    // conditional PUT (S3A If-None-Match materializes the object only
    // at close; HDFS creates atomically in the namenode). The LOCAL
    // FileSystems behind the specs cannot express fail-if-exists
    // atomically (create(overwrite=false) is check-then-act), so the
    // commit is CAS-VERIFIED: after close, read the pointer back — a
    // racer that overwrote us shows its own staging name, and exactly
    // one publisher (the one whose name survives) keeps its tree.
    val ptr = ptrFile(target)
    try writeTo(fs, ptr, tmp.getName, overwrite = false)
    catch {
      case e: java.io.IOException =>
        // create-or-write failed: either a racer's conditional put won
        // (a readable pointer exists — the CAS-verify below
        // adjudicates) or our own commit record is torn/absent — then
        // remove the torn record and fail WITH the staging tree
        // preserved for retry; silently retiring it would destroy the
        // only copy of the build
        val committed = try resolveDir(target) != target catch {
          case _: TornCommitException => false // stuck-empty = torn
        }
        if (!committed) {
          if (fs.exists(ptr)) fs.delete(ptr, false)
          throw e
        }
    }
    // CAS-verify: the local FSs' create(overwrite=false) is
    // check-then-act, so two racers can BOTH think they created the
    // pointer — the content that SURVIVED names the single winner, and
    // everyone else retires their tree. On real stores the put itself
    // is atomic and this read confirms our own commit.
    val phys = resolveDir(target)
    if (phys.toUri.getPath != tmp.toUri.getPath) { fs.delete(tmp, true); () }
  }

  /** The pointer's content (the physical prefix name), None when the
    * pointer object does not exist. A commit in flight on a
    * non-atomic local FS can surface as momentarily empty — callers
    * treat empty as in-flight, never as a valid name.
    */
  private def readPtr(fs: FileSystem, target: Path): Option[String] = {
    val ptr = ptrFile(target)
    val st = try Some(fs.getFileStatus(ptr)) catch {
      case _: java.io.FileNotFoundException => None
    }
    st.filter(_.isFile).map { s =>
      try {
        val buf = new Array[Byte](s.getLen.toInt)
        val in = fs.open(ptr)
        try in.readFully(0, buf) finally in.close()
        new String(buf, "UTF-8").trim
      } catch {
        // a commit racing this read on a local FS (length change,
        // checksum mismatch): report in-flight, callers retry
        case _: java.io.IOException => ""
      }
    }
  }

  def resolveDir(target: Path): Path = {
    val fs = fsFor(target)
    // an EMPTY pointer is a commit in flight on a non-atomic local FS
    // (real stores never expose one: a PUT materializes whole) —
    // wait it out briefly rather than resolving to a garbage path
    var attempt = 0
    while (attempt < 40) {
      readPtr(fs, target) match {
        case None => return target
        case Some(name) if name.nonEmpty =>
          return new Path(target.getParent, name)
        case _ =>
          attempt += 1
          Thread.sleep(5)
      }
    }
    throw new TornCommitException(
      s"pointer for $target stuck empty — torn commit record")
  }

  private def list(fs: FileSystem, parent: Path): Array[FileStatus] =
    try fs.listStatus(parent) catch {
      case _: java.io.FileNotFoundException => Array.empty
    }

  def logicalNames(parent: Path): Seq[String] = {
    val kids = list(fsFor(parent), parent)
    val dirs = kids.filter(_.isDirectory).map(_.getPath.getName)
    val ptrs = kids.filter(s => s.isFile && s.getPath.getName.endsWith(".ptr"))
      .map(_.getPath.getName.stripSuffix(".ptr"))
    // a pointer-published name shadows any same-named debris dir
    (dirs.filterNot(ptrs.contains) ++ ptrs).toSeq
  }

  def deletePublished(target: Path): Unit = {
    val fs = fsFor(target)
    val phys = resolveDir(target)
    // pointer first: readers stop resolving before bytes disappear
    fs.delete(ptrFile(target), false)
    fs.delete(phys, true)
    if (phys != target) fs.delete(target, true) // same-named debris dir
    ()
  }

  def republishDir(tmp: Path, target: Path, marker: String): Unit = {
    val fs = fsFor(target)
    require(fs.exists(new Path(tmp, marker)),
      s"staging tree $tmp lacks its $marker marker")
    val old = resolveDir(target)
    val ptr = ptrFile(target)
    // atomic pointer replace = plain object PUT: readers resolve the
    // old commit or the new one, never a torn state. In the Hadoop API
    // that is a sibling write + rename-over (single-object, never a
    // data file); stores without rename-over-existing fall back to
    // delete+rename of the one pointer object.
    val stage = new Path(ptr.getParent,
      ptr.getName + ".put." + java.util.UUID.randomUUID.toString.take(8))
    writeTo(fs, stage, tmp.getName, overwrite = true)
    if (!fs.rename(stage, ptr)) {
      fs.delete(ptr, false)
      if (!fs.rename(stage, ptr))
        throw new IllegalStateException(s"pointer replace failed for $target")
    }
    // the superseded physical tree owns nothing the new commit needs
    // (carried files were copied, not linked) — retire it
    if (old.toUri.getPath != tmp.toUri.getPath) { fs.delete(old, true); () }
  }

  def stagingDir(target: Path, suffix: String): Path =
    // unique per build: the staging tree becomes the physical home and
    // must never collide with the live one it is replacing
    new Path(target.getParent,
      target.getName + "." + FsOps.uniqueSuffix(suffix))

  override def clearTornCommit(target: Path): Unit = {
    val fs = fsFor(target)
    val ptr = ptrFile(target)
    // Re-adjudicate at delete time: remove the record ONLY if it is
    // still a zero-length object (the stuck-empty torn shape). A
    // publisher completing its put between the reader's failed resolve
    // and this repair, or a transient read/checksum error (the status
    // fetch throwing), must NOT lose a commit record that was about to
    // become valid.
    val stillTorn = try fs.getFileStatus(ptr).getLen == 0 catch {
      case _: java.io.IOException => false
    }
    if (stillTorn) { fs.delete(ptr, false); () }
  }

  /** A staging tree's age is its NEWEST object's mtime: directories
    * on a real store are implicit and carry no mtime (S3A reports 0),
    * which would make every in-flight build look ancient. An in-flight
    * build keeps writing, so its newest object is recent and the
    * caller's age gate spares it, while true crash debris only ever
    * gets older. A tree with no objects falls back to its own mtime.
    */
  def stagingDebris(parent: Path): Seq[(Path, Long)] = {
    val fs = fsFor(parent)
    val kids = list(fs, parent)
    // a staging tree referenced by a live pointer IS a published home
    val committed = kids
      .filter(s => s.isFile && s.getPath.getName.endsWith(".ptr"))
      .map { s =>
        val logical = new Path(parent, s.getPath.getName.stripSuffix(".ptr"))
        resolveDir(logical).getName
      }.toSet
    kids.filter(s => FsOps.isStagingName(s.getPath.getName)
        && !committed.contains(s.getPath.getName))
      .flatMap(s => newestObjectTime(fs, s).map(t => (s.getPath, t))).toSeq
  }

  /** None when the tree vanished mid-listing (a losing publisher
    * retired it): it is no longer debris.
    */
  private def newestObjectTime(fs: FileSystem, tree: FileStatus): Option[Long] =
    try {
      val it = fs.listFiles(tree.getPath, true)
      var newest = -1L
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      Some(if (newest < 0) tree.getModificationTime else newest)
    } catch { case _: java.io.FileNotFoundException => None }

  def deleteDebris(tree: Path): Unit = { fsFor(tree).delete(tree, true); () }

  def publishFile(tmp: Path, target: Path): Unit = {
    val fs = fsFor(target)
    if (!fs.exists(target)) {
      // conditional single-object PUT (S3A If-None-Match / HDFS atomic
      // namespace create — the same capability the pointer commit
      // rides); a failure means a racer's put won, and deterministic
      // bytes per name make the race winner-agnostic. Streamed, not
      // buffered: the artifact is small by contract but the verb must
      // not silently cap at Int.MaxValue bytes.
      try {
        val out = fs.create(target, false)
        val in = fs.open(tmp)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536)
        finally { in.close(); out.close() }
      } catch { case _: java.io.IOException => () }
    }
    fs.delete(tmp, false)
    ()
  }
}

/** Default object-store binding for specs: [[RawLocalFileSystem]] —
  * pure local bytes, no checksum sidecars, same protocol the s3a://
  * binding runs.
  */
object ObjectStoreFsOps
    extends ObjectStoreFsOps(_ => FsBindings.rawLocal, "objectstore")

/** The configuration-routed binding: each path's scheme names its
  * store (`s3a://bucket/...` → the real S3A client; scheme-less local
  * paths → the checksummed `LocalFileSystem`, a genuinely different
  * `FileSystem` with sidecar objects, which the parity suite runs as
  * the third implementation).
  */
object HadoopFsOps
    extends ObjectStoreFsOps(_.getFileSystem(FsBindings.conf), "hadoop")

/** Shared Hadoop bindings for the object-store impls. The
  * configuration is the ACTIVE Spark session's hadoopConfiguration
  * when one exists — that is where `spark.hadoop.*` settings (S3A
  * credentials, endpoints, committers) land, and a binding that
  * ignored them could never reach the store it names. Resolved per
  * call: the seam outlives any one session.
  */
private[fs] object FsBindings {
  def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
  lazy val rawLocal: FileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
}
