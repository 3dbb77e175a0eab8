package perfbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Process-wide call counters of [[CountingFs]]. Local mode runs every task
  * in this JVM, so plain atomics see executor-side calls too. */
object FsCalls {
  val names: Seq[String] = Seq("listStatus", "getFileStatus", "exists", "mkdirs", "create", "open",
    "rename", "delete", "getFileChecksum", "setTimes")
  private val counters = names.map(_ -> new AtomicLong).toMap

  def hit(name: String): Unit = counters(name).incrementAndGet()
  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }
}

/** Counting file system for the traced copy runs, scheme `cntfs://`
  * (ServiceLoader-registered from this package's resources, so the copy
  * layer's own `Path.getFileSystem(Fs.conf())` finds it unchanged).
  *
  * Every call is forwarded to the same RawLocalFileSystem the copy layer
  * uses for `file:`, with the same overload, so each call keeps its cost:
  * statuses stay the raw file system's lazily loaded ones, and reading an
  * owner or permission still pays the raw lookup. Only the path scheme is
  * swapped on the way in and out. Calls the raw file system makes to itself
  * (such as mkdirs creating parents) are not counted. */
class CountingFs extends FileSystem {
  import CountingFs._

  private val raw = new RawLocalFileSystem()
  private var workDir = new Path(Scheme, null, "/")

  override def getScheme: String = Scheme
  override def getUri: URI = Uri

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    raw.initialize(URI.create("file:///"), conf)
    workDir = ours(raw.getWorkingDirectory)
  }

  private def local(p: Path): Path = {
    val abs = if (p.isAbsolute) p else new Path(workDir, p)
    new Path("file", null, abs.toUri.getPath)
  }
  private def ours(p: Path): Path = new Path(Scheme, null, p.toUri.getPath)
  private def counted[T](name: String)(body: => T): T = { FsCalls.hit(name); body }

  override def getFileStatus(f: Path): FileStatus =
    counted("getFileStatus")(new Status(raw.getFileStatus(local(f)), ours(f)))
  override def listStatus(f: Path): Array[FileStatus] = counted("listStatus") {
    raw.listStatus(local(f)).map(st => new Status(st, ours(st.getPath)): FileStatus)
  }
  override def exists(f: Path): Boolean = counted("exists")(raw.exists(local(f)))
  override def mkdirs(f: Path): Boolean = counted("mkdirs")(raw.mkdirs(local(f)))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs")(raw.mkdirs(local(f), permission))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create")(raw.create(local(f), overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create")(raw.create(local(f), permission, overwrite, bufferSize, replication, blockSize, progress))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open")(raw.open(local(f), bufferSize))
  override def rename(src: Path, dst: Path): Boolean = counted("rename")(raw.rename(local(src), local(dst)))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete")(raw.delete(local(f), recursive))
  override def getFileChecksum(f: Path): FileChecksum =
    counted("getFileChecksum")(raw.getFileChecksum(local(f)))
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    counted("setTimes")(raw.setTimes(local(p), mtime, atime))

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    raw.append(local(f), bufferSize, progress)
  override def setPermission(p: Path, permission: FsPermission): Unit = raw.setPermission(local(p), permission)
  override def setOwner(p: Path, username: String, groupname: String): Unit =
    raw.setOwner(local(p), username, groupname)
  override def setWorkingDirectory(dir: Path): Unit =
    workDir = if (dir.isAbsolute) ours(dir) else new Path(workDir, dir)
  override def getWorkingDirectory: Path = workDir
}

object CountingFs {
  val Scheme = "cntfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** A raw status under this file system's path. Owner, group and
    * permission are read from the raw status on demand, so the raw file
    * system's lazy lookup runs exactly when the caller asks for them. */
  private final class Status(rawStatus: FileStatus, path: Path)
      extends FileStatus(rawStatus.getLen, rawStatus.isDirectory, rawStatus.getReplication.toInt,
        rawStatus.getBlockSize, rawStatus.getModificationTime, rawStatus.getAccessTime,
        null, null, null, path) {
    override def getPermission: FsPermission = rawStatus.getPermission
    override def getOwner: String = rawStatus.getOwner
    override def getGroup: String = rawStatus.getGroup
  }
}
