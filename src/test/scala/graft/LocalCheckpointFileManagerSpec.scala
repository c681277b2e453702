package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.{Callable, CyclicBarrier, Executors}
import graft.sources.{NioLocalFileSystem, NioLocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Spark's default checkpoint file manager on local `file:` paths,
  * over the file system the engine installs: atomic create, cancel,
  * the no-overwrite contract `HDFSMetadataLog` relies on, and Hadoop
  * `.crc` sidecar handling. */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import LocalCheckpointFileManagerSpec._

  private def manager(dir: NioPath): CheckpointFileManager =
    LocalCheckpointFileManagerSpec.manager(spark, dir)

  test("file: paths take the java.nio branch") {
    val dir = Files.createTempDirectory("cfm-branch")
    val fm = manager(dir)
    assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager])
    val fc = FileContext.getFileContext(dir.toUri, spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(fm.isLocal)
  }

  test("a created file is visible only after close") {
    val dir = Files.createTempDirectory("cfm-create")
    val fm = manager(dir)
    // Spark's manager creates no parent directory, as under stock
    // LocalFs (HDFSMetadataLog makes its own)
    Files.createDirectory(dir.resolve("sub"))
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

  test("of two no-overwrite writers racing on one file, exactly one wins") {
    val dir = Files.createTempDirectory("cfm-race")
    val (a, b) = (manager(dir), manager(dir))
    val pool = Executors.newFixedThreadPool(2)
    try for (round <- 0 until 200) {
      val p = new Path(dir.toUri.toString, round.toString)
      val outs = Seq(a -> "a", b -> "b").map { case (fm, text) =>
        val out = fm.createAtomic(p, overwriteIfPossible = false)
        out.write(text.getBytes(UTF_8))
        out
      }
      val start = new CyclicBarrier(2)
      val closed = outs.map(out => pool.submit(new Callable[Try[Unit]] {
        override def call(): Try[Unit] = { start.await(); Try(out.close()) }
      })).map(_.get)
      assert(closed.count(_.isSuccess) == 1, s"round $round")
      closed.foreach(_.failed.foreach(e =>
        assert(e.isInstanceOf[FileAlreadyExistsException], e)))
    } finally pool.shutdown()
    assert(names(dir) == (0 until 200).map(_.toString).toSet)
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
    // Hadoop's stock checksummed reader agrees
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
}

object LocalCheckpointFileManagerSpec {
  /** Spark's default checkpoint manager for `dir`, with the engine's
    * `file:` file system installed in `spark`. */
  def manager(spark: SparkSession, dir: NioPath): CheckpointFileManager = {
    NioLocalFileSystem.install(spark)
    CheckpointFileManager.create(new Path(dir.toUri), spark.sessionState.newHadoopConf())
  }

  def names(dir: NioPath): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  def write(fm: CheckpointFileManager, p: Path, text: String,
            overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
}
