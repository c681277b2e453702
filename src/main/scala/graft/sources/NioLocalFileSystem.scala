package graft.sources

import java.net.URI
import java.io.FileNotFoundException
import java.nio.file.{FileSystemException, Files, NoSuchFileException, StandardCopyOption}
import java.nio.file.attribute.{FileTime, PosixFileAttributes}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FSDataOutputStream, FSLinkResolver, FileAlreadyExistsException, FileStatus, FilterFs, FsServerDefaults, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs, LocalFsBridge}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.{DataChecksum, Progressable}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Hadoop's raw local file system without its subprocesses. Without
  * libhadoop, `RawLocalFileSystem` forks `chmod` on every file create
  * and mkdir, `ls -ld` when a status's owner or permission is read
  * (every located listing), and `readlink` for every link status
  * (every `FileContext` rename). Here permissions are set and
  * statuses read through java.nio, with the values the stock code
  * reports: a status follows symlinks, and a link status adds the
  * link's target. Owner and group names are looked up once per id. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Int.box(permission.toShort & 0x3ff)) // rwx bits and the sticky bit

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath,
      "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,uid,gid")
    catch { // as java.io.File.exists sees it, and so the stock code
      case e: FileSystemException => throw NioRawLocalFileSystem.missing(f, e)
    }
    def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    def name(names: ConcurrentHashMap[AnyRef, String], id: String,
             of: PosixFileAttributes => java.security.Principal) =
      names.computeIfAbsent(a.get(id), _ =>
        of(Files.readAttributes(file.toPath, classOf[PosixFileAttributes])).getName)
    new FileStatus(a.get("size").asInstanceOf[Long],
      a.get("isDirectory").asInstanceOf[Boolean], 1, getDefaultBlockSize(f),
      time("lastModifiedTime"), time("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
      name(NioRawLocalFileSystem.users, "uid", _.owner),
      name(NioRawLocalFileSystem.groups, "gid", _.group),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) // per child: getFileStatus
    else Array(getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val st = try getFileStatus(f) catch { // a dangling link
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", f)
      }
      new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission,
        st.getOwner, st.getGroup, FSLinkResolver.qualifySymlinkTarget(getUri,
          f, new Path(Files.readSymbolicLink(link).toString)), f)
    }
  }
}

object NioRawLocalFileSystem {
  /** Names by uid and gid: the JDK asks `getpwuid`/`getgrgid` on every
    * lookup, which would cost a located listing most of its time. */
  private val users, groups = new ConcurrentHashMap[AnyRef, String]

  /** The miss `getFileStatus` reports. Misses are routine (Spark's
    * checkpoint manager looks up three missing paths per log entry)
    * and their callers catch them, so the stack walk is not taken a
    * second time: the trace is java.nio's, carried as the cause. */
  private def missing(f: Path, cause: FileSystemException) = {
    val e = new FileNotFoundException(s"File $f does not exist") {
      override def fillInStackTrace(): Throwable = this
    }
    e.initCause(cause)
    e
  }
}

/** The checksummed `file:` file system over [[NioRawLocalFileSystem]]:
  * `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` side (`fs.AbstractFileSystem.file.impl`), which
  * Spark's default checkpoint file manager goes through: Hadoop's
  * `LocalFs` with [[NioRawLocalFileSystem]] underneath. */
class NioLocalFs(uri: URI, conf: Configuration) extends LocalFsBridge(conf) {
  private val raw = new NioRawLocalFileSystem
  NioLocalFs.underlying.set(this, new NioLocalFs.Raw(uri, conf, raw))

  /** A create that asks for no checksum gets no `.crc` sidecar. Spark's
    * checkpoint file manager asks so for every file it writes, and
    * `ChecksumFs` would write one anyway: one more file to create,
    * rename and delete per log entry. Such a file reads back
    * unchecked, as under stock `LocalFs` when a sidecar is missing. */
  override def createInternal(f: Path, flag: java.util.EnumSet[CreateFlag],
                              permission: FsPermission, bufferSize: Int,
                              replication: Short, blockSize: Long,
                              progress: Progressable, checksumOpt: ChecksumOpt,
                              createParent: Boolean): FSDataOutputStream =
    if (checksumOpt.getChecksumType == DataChecksum.Type.NULL)
      getMyFs.createInternal(f, flag, permission, bufferSize, replication,
        blockSize, progress, checksumOpt, createParent)
    else super.createInternal(f, flag, permission, bufferSize, replication,
      blockSize, progress, checksumOpt, createParent)

  /** A file without a sidecar drops the destination's once it replaces
    * it, or reads of the new file would check it against the old one.
    * A checkpoint temp file (Spark names it `.<dst>.<uuid>.tmp`) that
    * loses a no-overwrite publish is deleted: Spark's stream is closed
    * by then, so its cancel would leave the file behind. */
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    val bare = !raw.pathToFile(getChecksumFile(src)).exists
    try super.renameInternal(src, dst, overwrite) catch {
      case e: FileAlreadyExistsException if src.getName.startsWith(
        s".${dst.getName}.") && src.getName.endsWith(".tmp") =>
        delete(src, false)
        throw e
    }
    if (bare) raw.pathToFile(getChecksumFile(dst)).delete()
  }
}

object NioLocalFs {
  /** `FilterFs`' file system underneath, which `LocalFs` fixes to
    * Hadoop's raw local one. */
  private val underlying = NioLocalFileSystem.field(classOf[FilterFs], "myFs")

  /** Hadoop's `RawLocalFs` (whose constructors are package-private)
    * over [[NioRawLocalFileSystem]]. */
  private final class Raw(uri: URI, conf: Configuration,
                          raw: NioRawLocalFileSystem)
    extends DelegateToFileSystem(uri, raw, conf, "file", false) {
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true

    /** One rename(2) when replacing; otherwise a file is published
      * with link(2), which fails atomically when the destination
      * exists, so of two writers of one checkpoint file exactly one
      * wins. The stock path reads the source, destination and parent
      * statuses here and again in `FileSystem.rename`, on every
      * checkpoint commit. */
    override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
      val (from, to) = (raw.pathToFile(src).toPath, raw.pathToFile(dst).toPath)
      try {
        if (overwrite) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
        else if (Files.isDirectory(from)) Files.move(from, to)
        else { Files.createLink(to, from); Files.delete(from) }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"rename destination $dst already exists")
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"rename $src to $dst: no such file or directory")
      }
    }
  }
}

object NioLocalFileSystem {
  private val FsKey = "fs.file.impl"
  private val ContextKey = "fs.AbstractFileSystem.file.impl"

  /** Make the fork-free file system the `file:` one, for both
    * `FileSystem` and `FileContext`, unless the session or its Hadoop
    * configuration already names another class. Hadoop caches one
    * `file:` instance per user for the whole JVM and ignores
    * `fs.file.impl` once one is cached, so every cached stock instance
    * is replaced in the cache; code holding one keeps a working
    * instance. `FileContext` keeps stock `LocalFs` when this jar was
    * added at run time, where [[LocalFsBridge]] cannot reach Hadoop's
    * constructor. Cheap and idempotent. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def claim(key: String, stock: String, ours: Class[_]): Boolean = {
      val set = spark.conf.getOption(key).orElse(Option(conf.getTrimmed(key)))
      val free = set.forall(v => v.isEmpty || v == stock || v == ours.getName)
      if (free && conf.get(key) != ours.getName) conf.set(key, ours.getName)
      free
    }
    if (classOf[LocalFsBridge].getClassLoader eq classOf[LocalFs].getClassLoader)
      claim(ContextKey, classOf[LocalFs].getName, classOf[NioLocalFs])
    if (claim(FsKey, "", classOf[NioLocalFileSystem])) recache()
  }

  private[sources] def field(c: Class[_], name: String) = {
    val f = c.getDeclaredField(name)
    f.setAccessible(true)
    f
  }
  private lazy val cache = field(classOf[FileSystem], "CACHE").get(null)
  private lazy val cached = field(cache.getClass, "map").get(cache)
    .asInstanceOf[java.util.Map[AnyRef, FileSystem]]
  private lazy val cacheKey = field(classOf[FileSystem], "key")

  /** The classes of a `file:` instance made with `fs.file.impl`
    * unset: `LocalFileSystem`, or the last `file` entry Hadoop's
    * service loader finds (Spark's Hive jars register their own). */
  private lazy val stock: Set[Class[_]] =
    Set(classOf[LocalFileSystem], FileSystem.getFileSystemClass("file", null))

  /** Swap each cached stock `file:` instance for a fresh instance of
    * ours under the same cache key. */
  private def recache(): Unit = cache.synchronized {
    cached.entrySet.asScala
      .filter(e => stock(e.getValue.getClass))
      .foreach { e =>
        val fresh = new NioLocalFileSystem
        fresh.initialize(URI.create("file:///"), e.getValue.getConf)
        cacheKey.set(fresh, e.getKey)
        e.setValue(fresh)
      }
  }
}
