package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import graft.sources.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import scala.jdk.CollectionConverters._

/** A local file system reached under a scheme that is not `file:`. */
class MockSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

/** The fork-free local checkpoint file manager: atomic create, cancel,
  * the no-overwrite contract `HDFSMetadataLog` relies on, Hadoop `.crc`
  * sidecar handling, and the session wiring. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def manager(dir: NioPath): LocalCheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def names(dir: NioPath): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("file: paths take the java.nio branch") {
    val fm = manager(Files.createTempDirectory("cfm-branch"))
    assert(fm.impl.isInstanceOf[LocalCheckpointFileManager.Nio])
    assert(fm.isLocal)
  }

  test("a created file is visible only after close") {
    val dir = Files.createTempDirectory("cfm-create")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "sub/0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(p))
    out.close()
    assert(fm.exists(p) && read(fm, p) == "v1")
    assert(names(dir.resolve("sub")) == Set("0"))
  }

  test("cancel leaves neither the file nor a temp file") {
    val dir = Files.createTempDirectory("cfm-cancel")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("a no-overwrite create onto an existing file throws " +
    "FileAlreadyExistsException and keeps the first file") {
    val dir = Files.createTempDirectory("cfm-noover")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "second", overwrite = false)
    }
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("0"))
  }

  test("overwrite replaces the file and drops a stale .crc") {
    val dir = Files.createTempDirectory("cfm-over")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "1.delta")
    write(fm, p, "old", overwrite = true)
    Files.write(dir.resolve(".1.delta.crc"), "stale".getBytes(UTF_8))
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) == "new")
    assert(names(dir) == Set("1.delta"))
    // Hadoop's checksummed reader (Spark's default manager) agrees
    val local = FileSystem.getLocal(new Configuration())
    val in = local.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "new")
    finally in.close()
  }

  test("list hides .crc sidecars") {
    val dir = Files.createTempDirectory("cfm-list")
    val fm = manager(dir)
    Seq("0", "1", ".0.crc", ".1.crc").foreach(n =>
      Files.write(dir.resolve(n), n.getBytes(UTF_8)))
    val root = new Path(dir.toUri)
    assert(fm.list(root).map(_.getPath.getName).toSet == Set("0", "1"))
    assert(fm.list(root, (p: Path) => p.getName != "1")
      .map(_.getPath.getName).toSeq == Seq("0"))
  }

  test("delete removes the sidecar") {
    val dir = Files.createTempDirectory("cfm-delete")
    val fm = manager(dir)
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "x", overwrite = false)
    Files.write(dir.resolve(".0.crc"), "x".getBytes(UTF_8))
    fm.delete(p)
    assert(names(dir).isEmpty)
    fm.delete(p) // deleting a missing file is a no-op
  }

  test("a non-file: path never reaches the java.nio branch") {
    val conf = new Configuration()
    conf.setClass("fs.mockfs.impl", classOf[MockSchemeFileSystem],
      classOf[FileSystem])
    // the session key stays set: the delegate must not resolve to this
    // class again (that would recurse)
    conf.set(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)
    val dir = Files.createTempDirectory("cfm-mockfs")
    val fm = new LocalCheckpointFileManager(
      new Path(s"mockfs://${dir.toUri.getPath}"), conf)
    assert(fm.impl.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("a user-set checkpointFileManagerClass is never replaced") {
    val key = LocalCheckpointFileManager.ConfKey
    val ours = classOf[LocalCheckpointFileManager].getName
    val theirs = classOf[FileSystemBasedCheckpointFileManager].getName
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val before = spark.conf.getOption(key)
    def loadIbmmq(): Unit = spark.readStream.format("ibmmq")
      .option("path", "/nonexistent-queue-dir").load()
    try {
      spark.conf.unset(key)
      loadIbmmq()
      assert(spark.conf.get(key) == ours)
      spark.conf.set(key, theirs)
      loadIbmmq()
      assert(spark.conf.get(key) == theirs)
      // a Hadoop-level choice counts as the user's too
      spark.conf.unset(key)
      hadoopConf.set(key, theirs)
      loadIbmmq()
      assert(spark.conf.getOption(key).isEmpty)
    } finally {
      hadoopConf.unset(key)
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
