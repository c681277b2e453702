package graft.sources

import java.io.BufferedOutputStream
import java.util.UUID
import java.nio.file.{Files, StandardCopyOption, FileAlreadyExistsException => NioFileAlreadyExistsException}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import scala.util.control.NonFatal

/** A `CheckpointFileManager` for `file:` checkpoints that never forks
  * a process. Without libhadoop, Hadoop's local file system shells out
  * to `chmod` on every file create and to `readlink` on every
  * checksummed rename — about 20 subprocesses per micro-batch on the
  * stream execution thread for the offset and commit logs alone, more
  * with a state store or a file-sink log. Here:
  *
  *  - an atomic create writes a temp file next to the target and
  *    publishes it on `close` with an atomic rename (overwrite) or a
  *    hard link plus unlink (no overwrite), so a second writer of the
  *    same batch still gets Hadoop's `FileAlreadyExistsException`,
  *    which `HDFSMetadataLog` reports as a concurrent query;
  *  - reads and listings go through `RawLocalFileSystem`, which
  *    forks nothing on those paths;
  *  - no `.crc` sidecar is written; `list` hides the ones Spark's
  *    default manager writes, and overwrite and delete drop a stale
  *    one, so a checkpoint moves between the two managers either way.
  *
  * Durability is unchanged: the local file system does not fsync
  * either, and the rename is the commit point. A path of any other
  * scheme goes to the manager `CheckpointFileManager.create` picks
  * when this class is not configured, so HDFS and object stores see
  * no change.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
  extends CheckpointFileManager {

  private[graft] val impl: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, hadoopConf))
      new LocalCheckpointFileManager.Nio(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
  : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this manager the session's checkpoint file manager unless
    * the user already chose one (session conf, or a Hadoop conf entry
    * that Spark would otherwise read). Cheap and idempotent: the
    * `ibmmq` provider calls it on every table lookup. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty &&
      spark.sparkContext.hadoopConfiguration.get(ConfKey) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def isFileScheme(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Hadoop's checksum sidecar of `name`: `.name.crc`. */
  private def isCrc(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")
  private def crcOf(p: Path): Path = new Path(p.getParent, s".${p.getName}.crc")

  private[graft] final class Nio(root: Path, conf: Configuration)
    extends CheckpointFileManager {
    private val fs = FileSystem.getLocal(conf).getRawFileSystem
    private val bufferSize = conf.getInt("io.file.buffer.size", 4096)

    private def file(p: Path): java.nio.file.Path =
      new java.io.File(fs.makeQualified(p).toUri.getPath).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
    : CancellableFSDataOutputStream = {
      val dst = file(p)
      Files.createDirectories(dst.getParent)
      new AtomicOutput(
        dst.resolveSibling(s".${dst.getFileName}.${UUID.randomUUID}.tmp"),
        dst, file(crcOf(p)), overwriteIfPossible, bufferSize)
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter).filterNot(s => isCrc(s.getPath.getName))
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = Files.exists(file(p))
    override def delete(p: Path): Unit = {
      fs.delete(p, true)
      Files.deleteIfExists(file(crcOf(p)))
    }
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }

  /** Writes `tmp`; `close` publishes it at `dst`, `cancel` drops it.
    * Either way the temp file is gone afterwards. */
  private final class AtomicOutput(tmp: java.nio.file.Path,
                                   dst: java.nio.file.Path,
                                   crc: java.nio.file.Path,
                                   overwrite: Boolean, bufferSize: Int)
    extends CancellableFSDataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(tmp), bufferSize)) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.close()
          if (overwrite) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(dst, tmp) catch {
            case _: NioFileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$dst already exists")
          }
          Files.deleteIfExists(crc)
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close()
        catch { case NonFatal(_) => } // the write is abandoned anyway
        finally Files.deleteIfExists(tmp)
      }
    }
  }
}
