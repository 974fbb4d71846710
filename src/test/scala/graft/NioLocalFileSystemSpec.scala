package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.fs.NioRawLocalFileSystem
import graft.pipeline.{AuditPublish, Envelope, InMemoryStatusStore, Ingest, Runner, Snapshot}

/** graft.fs.NioLocalFileSystem: the CDI path writers, and a whole CDI
  * date, set file and directory modes without forking `chmod`, and the
  * modes they set are the ones stock Hadoop sets.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  /** The commands of every process the JVM started inside `body`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.delete(dump) }
  }

  test("the CDI path writers start no chmod process") {
    val out = Files.createTempDirectory("graft_nio_writes")
    val processed = Ingest.pipeline(Envelope.synthesize(spark, sfDir))
    val daily = Ingest.dailyIncrement(processed, "2021-06-15")
    // one whole CDI date (daily, update, staging publication) reads its
    // envelopes from the data date before the export date
    val root = out.resolve("in").toString
    Envelope.synthesize(spark, sfDir).write.text(s"$root/2021/06/14/corp_nio/documents")
    // the catalog creates a database's directory through the session's
    // own file system, once per database rather than per date
    spark.sql("CREATE DATABASE IF NOT EXISTS corp_nio_staging")
    val commands = processStarts {
      Ingest.writeDaily(daily, out.resolve("daily").toString)
      Snapshot.writeSnapshot(daily.select("id", "db_type", "val", "id_part"),
        out.resolve("snapshot").toString)
      AuditPublish.writeAuditDaily(processed, out.resolve("audit").toString)
      new Runner(spark, new InMemoryStatusStore, forceCollectionUpdate = true).runRange(
        root, "2021-06-15", "2021-06-15", "corp_nio", "documents", out.resolve("cdi").toString)
      // the recording sees process starts: this one must show up
      new ProcessBuilder("true").start().waitFor()
    }
    assert(commands.exists(_.trim == "true"), commands)
    assert(spark.read.parquet(out.resolve("daily").toString).count() === daily.count())
    assert(spark.table("corp_nio_staging.src_documents").count() === daily.count())
    val chmods = commands.filter(_.contains("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod forks, first: ${chmods.take(3)}")
    spark.sql("DROP DATABASE IF EXISTS corp_nio_staging CASCADE")
    Stage.deleteRecursively(out.toFile)
  }

  test("NioRawLocalFileSystem sets the same modes as stock RawLocalFileSystem") {
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioRawLocalFileSystem)
    val dir = Files.createTempDirectory("graft_nio_modes")
    def modeAfter(fs: RawLocalFileSystem, p: JPath, mode: Int) = {
      fs.setPermission(new Path(p.toUri), new FsPermission(mode.toShort))
      Files.getPosixFilePermissions(p).asScala.toSet
    }
    for {
      mode <- Seq("644", "600", "640", "755", "700").map(Integer.parseInt(_, 8))
      kind <- Seq("file", "dir")
    } {
      val Seq(a, b) = Seq("stock", "nio").map { who =>
        val p = dir.resolve(s"$kind-$who-${mode.toOctalString}")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
      }
      val expected = modeAfter(stock, a, mode)
      assert(modeAfter(nio, b, mode) === expected, s"$kind ${mode.toOctalString}")
      assert(expected.size === Integer.bitCount(mode), s"$kind ${mode.toOctalString}")
    }
    Stage.deleteRecursively(dir.toFile)
  }

  test("a sticky-bit mode falls back to the stock setPermission") {
    // NIO has no sticky bit: only the stock path can set 01777
    val dir = Files.createTempDirectory("graft_nio_sticky")
    raw(new NioRawLocalFileSystem)
      .setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    val mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)
    assert(mode.toOctalString === "1777")
    Stage.deleteRecursively(dir.toFile)
  }
}
