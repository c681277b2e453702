package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath, Paths, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions
import java.security.PrivilegedExceptionAction
import graft.operators.Dedup
import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** A local file system reached under a scheme that is not `file:`. */
class MockSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

/** The `file:` file system the engine installs: nothing it does on the
  * streaming and index-maintenance paths starts a process, its
  * statuses read as the stock ones do, it takes over the JVM's cached
  * instance, and Spark's default checkpoint file manager uses it for
  * `file:` checkpoints. */
class NioLocalFileSystemSpec extends SparkSpec {
  import spark.implicits._
  import LocalCheckpointFileManagerSpec.{names, read, write}

  private def queue(dir: NioPath, payloads: String*): Unit =
    Files.write(dir.resolve("queue.jsonl"),
      payloads.zipWithIndex.map { case (p, i) => s"${1000L + i}\t$p\n" }
        .mkString.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Command lines of the processes the JVM starts while `body` runs,
    * read back from a JFR recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** "count × command" per command and its first argument. */
  private def byCommand(starts: Seq[String]): String =
    starts.groupBy(_.split(' ').take(2).mkString(" ")).toSeq
      .sortBy(-_._2.size).map { case (c, all) => s"${all.size} × $c" }
      .mkString(", ")

  private def availableNow(q: org.apache.spark.sql.streaming.DataStreamWriter[_])
  : Unit = {
    val run = q.trigger(Trigger.AvailableNow()).start()
    try assert(run.awaitTermination(60000)) finally run.stop()
  }

  test("a landing-sink batch, a relay commit and index maintenance " +
    "start no process") {
    val Seq(land, landOut, landCkpt, relayIn, relayOut, relayCkpt) =
      Seq("land", "land-out", "land-ckpt", "relay-in", "relay-out",
        "relay-ckpt").map(p => Files.createTempDirectory(s"forks-$p"))
    queue(land, "a", "b", "c")
    queue(relayIn, "d", "e")
    val fp = (ids: Range) => ids.map(i => (i.toLong, s"doc $i body ${i % 7}"))
      .toDF("doc_id", "text").select(col("doc_id"),
        graft.streaming.StreamingOps.doorFingerprint(col("text")).as("fp"))
    try {
      Dedup.createBandedIndexTable(fp(0 until 40), "doc_id", "fp",
        "forks_bands", buckets = 2)
      Dedup.appendToBandedIndexTable(fp(40 until 80), "doc_id", "fp",
        "forks_bands", buckets = 2)
      // Spark's executor metrics read the page size with `getconf` once
      // per JVM, on whichever heartbeat comes first: do it before the
      // recording starts
      Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
      val starts = processStarts {
        availableNow(spark.readStream.format("ibmmq")
          .option("path", land.toString).load()
          .writeStream.format("parquet").option("path", landOut.toString)
          .option("checkpointLocation", landCkpt.toString))
        availableNow(spark.readStream.format("ibmmq")
          .option("path", relayIn.toString).option("keepMessages", "false")
          .load().select("value")
          .writeStream.format("ibmmq").option("path", relayOut.toString)
          .option("checkpointLocation", relayCkpt.toString))
        assert(Dedup.maintainBandedIndexTable(spark, "forks_bands", 2,
          maxFilesPerBucket = 1.0))
      }
      assert(spark.read.parquet(landOut.toString).count() == 3)
      // Spark deletes temporary directories with `rm -rf`
      // (JavaUtils.deleteRecursively); that command is Spark's own
      // and is the only one allowed
      val forks = starts.filterNot(_.startsWith("rm -rf "))
      assert(forks.isEmpty, byCommand(forks))
    } finally {
      Seq("forks_bands", "forks_bands_compacting").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  /** A file, a directory, a sticky directory and a relative symlink to
    * the file, with permissions other than the umask's defaults. */
  private def tree(): NioPath = {
    val dir = Files.createTempDirectory("fs-parity")
    val f = Files.write(dir.resolve("f"), "twelve bytes".getBytes(UTF_8))
    Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rw-r-----"))
    Files.setPosixFilePermissions(Files.createDirectory(dir.resolve("d")),
      PosixFilePermissions.fromString("rwxr-x--x"))
    Files.setAttribute(Files.createDirectory(dir.resolve("t")), "unix:mode",
      Int.box(Integer.parseInt("1777", 8)))
    Files.createSymbolicLink(dir.resolve("l"), Paths.get("f"))
    dir
  }

  private def view(s: FileStatus) =
    (s.getPath, s.getLen, s.getModificationTime, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getPermission, s.getOwner,
      s.getGroup)

  private def local[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("statuses match stock RawLocalFileSystem on a file, a directory " +
    "and a symlink") {
    val dir = tree()
    val (stock, ours) = (local(new RawLocalFileSystem), local(new NioRawLocalFileSystem))
    // bare and `file:` paths; the stock link status reads the link
    // through `new File(path.toString)`, which names no file for a
    // `file:` path, so only bare paths show it a link
    for (n <- Seq("f", "d", "t", "l"); p <- Seq(new Path(dir.resolve(n).toString),
      new Path(dir.resolve(n).toUri))) {
      assert(view(ours.getFileStatus(p)) == view(stock.getFileStatus(p)), p)
      assert(ours.listStatus(p).map(view).toSet ==
        stock.listStatus(p).map(view).toSet, p)
      if (n != "l" || p.toUri.getScheme == null)
        assert(view(ours.getFileLinkStatus(p)) == view(stock.getFileLinkStatus(p)), p)
    }
    val root = new Path(dir.toUri)
    assert(ours.listStatus(root).map(view).toSet ==
      stock.listStatus(root).map(view).toSet)
    val link = ours.getFileLinkStatus(new Path(dir.resolve("l").toUri))
    assert(link.isSymlink && link.getSymlink == new Path(dir.resolve("f").toUri))
    assert(ours.getFileStatus(new Path(dir.resolve("d").toUri)).getPermission ==
      new FsPermission("751"))
    val sticky = new Path(dir.resolve("t").toUri)
    assert(stock.getFileStatus(sticky).getPermission == new FsPermission("1777"))
    val missing = new Path(dir.resolve("missing").toUri)
    intercept[FileNotFoundException](ours.getFileStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.listStatus(missing))
    ours.setPermission(new Path(dir.resolve("f").toUri), new FsPermission("604"))
    assert(stock.getFileStatus(new Path(dir.resolve("f").toUri)).getPermission ==
      new FsPermission("604"))
    ours.setPermission(sticky, new FsPermission("1755"))
    assert(stock.getFileStatus(sticky).getPermission == new FsPermission("1755"))
  }

  test("install replaces a cached stock file: instance; its holder keeps " +
    "working") {
    val other = UserGroupInformation.createRemoteUser("fs-cache-spec")
    def cachedForOther(): FileSystem =
      other.doAs(new PrivilegedExceptionAction[FileSystem] {
        override def run(): FileSystem =
          FileSystem.get(URI.create("file:///"), new Configuration())
      })
    try {
      val stock = cachedForOther()
      assert(!stock.isInstanceOf[NioLocalFileSystem])
      NioLocalFileSystem.install(spark)
      assert(cachedForOther().isInstanceOf[NioLocalFileSystem])
      assert(new Path(Files.createTempDirectory("fs-cache").toUri)
        .getFileSystem(spark.sessionState.newHadoopConf())
        .isInstanceOf[NioLocalFileSystem])
      val p = new Path(Files.createTempDirectory("fs-cache").toUri.toString, "x")
      val out = stock.create(p)
      out.write("held".getBytes(UTF_8))
      out.close()
      val in = cachedForOther().open(p)
      try assert(new String(in.readAllBytes(), UTF_8) == "held")
      finally in.close()
      assert(stock.listStatus(p.getParent).map(_.getPath.getName).toSeq == Seq("x"))
    } finally FileSystem.closeAllForUGI(other)
  }

  // Spark's default checkpoint file manager over the installed file
  // system; its contract is LocalCheckpointFileManagerSpec's
  test("file: checkpoints go through the fork-free file system") {
    val dir = Files.createTempDirectory("cfm-fs")
    val fm = LocalCheckpointFileManagerSpec.manager(spark, dir)
    assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager])
    val fc = FileContext.getFileContext(dir.toUri, spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val Seq(p0, p1) = Seq("0", "1").map(new Path(dir.toUri.toString, _))
    // a file with a .crc sidecar, as stock LocalFs writes every file
    def checksummed(p: Path, text: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write(text.getBytes(UTF_8))
      out.close()
    }
    checksummed(p0, "v")
    val starts = processStarts {
      // the manager asks for no checksum; 0's old sidecar goes with it
      write(fm, p0, "w", overwrite = true)
      checksummed(p1, "x")
      assert(names(dir) == Set("0", "1", ".1.crc"))
      assert(read(fm, p0) == "w" && read(fm, p1) == "x")
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSet == Set("0", "1"))
      fm.delete(p0)
      fm.delete(p1)
    }
    assert(starts.isEmpty, byCommand(starts))
    assert(names(dir).isEmpty)
  }

  test("a non-file: scheme is untouched") {
    val conf = spark.sessionState.newHadoopConf()
    conf.setClass("fs.mockfs.impl", classOf[MockSchemeFileSystem],
      classOf[FileSystem])
    NioLocalFileSystem.install(spark)
    val p = new Path(s"mockfs://${Files.createTempDirectory("cfm-mockfs").toUri.getPath}")
    assert(p.getFileSystem(conf).isInstanceOf[MockSchemeFileSystem])
    assert(CheckpointFileManager.create(p, conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("a user-set fs.file.impl is never replaced") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val theirs = classOf[LocalFileSystem].getName
    val ours = classOf[NioLocalFileSystem].getName
    val contextKey = "fs.AbstractFileSystem.file.impl"
    def loadIbmmq(): Unit = spark.readStream.format("ibmmq")
      .option("path", "/nonexistent-queue-dir").load()
    try {
      hadoopConf.set("fs.file.impl", theirs)
      hadoopConf.set(contextKey, "org.apache.hadoop.fs.local.RawLocalFs")
      loadIbmmq()
      assert(hadoopConf.get("fs.file.impl") == theirs)
      assert(hadoopConf.get(contextKey) == "org.apache.hadoop.fs.local.RawLocalFs")
      // a session-level choice counts as the user's too
      hadoopConf.unset("fs.file.impl")
      spark.conf.set("fs.file.impl", theirs)
      loadIbmmq()
      assert(Option(hadoopConf.get("fs.file.impl")).forall(_.isEmpty))
      spark.conf.unset("fs.file.impl")
      loadIbmmq()
      assert(hadoopConf.get("fs.file.impl") == ours)
    } finally {
      spark.conf.unset("fs.file.impl")
      hadoopConf.unset(contextKey)
      NioLocalFileSystem.install(spark)
    }
    assert(hadoopConf.get("fs.file.impl") == ours)
    assert(hadoopConf.get(contextKey) == classOf[NioLocalFs].getName)
  }
}
