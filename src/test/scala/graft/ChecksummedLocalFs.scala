package graft

import java.io.DataInput
import java.io.DataOutput
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.attribute.PosixFileAttributes
import java.nio.file.attribute.PosixFilePermissions
import java.nio.file.{Files => JFiles, Paths => JPaths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FileChecksum, FileStatus, Path, RawLocalFileSystem}

/** Test-only local filesystem that RETURNS real checksums.
  *
  * The production copy layer runs file:// through RawLocalFileSystem, whose
  * getFileChecksum is null — so every local test run takes the reference's
  * "null checksum ⇒ same" short-circuit (DistCpUtils.java:257-263) and the
  * actual compare branch (:264-291) would first execute on a user's HDFS.
  * This FS (scheme `chkfile://`, ServiceLoader-registered so executor-side
  * `Path.getFileSystem(Fs.conf())` finds it with zero config plumbing)
  * computes a content MD5, making the length-equal/mtime-equal/
  * content-different truth table testable end-to-end.
  *
  * Statuses are materialized eagerly via java.nio (RawLocalFileSystem's
  * deprecated lazy permission loader rejects non-file:// URIs); the data
  * plane (open/create/rename/delete/setTimes) is inherited — those paths
  * resolve through the URI's path component and are scheme-agnostic.
  * Every listStatus is tallied per path in [[ChecksummedLocalFs.listStatusCalls]].
  */
class ChecksummedLocalFs extends RawLocalFileSystem {
  override def getScheme: String = "chkfile"
  override def getUri: URI = URI.create("chkfile:///")

  private def nio(f: Path) = JPaths.get(f.toUri.getPath)

  private def statusOf(f: Path): FileStatus = {
    val p = nio(f)
    if (!JFiles.exists(p)) throw new FileNotFoundException(f.toString)
    val dir = JFiles.isDirectory(p)
    val attrs = JFiles.readAttributes(p, classOf[PosixFileAttributes])
    val perm = FsPermission.valueOf(
      (if (dir) "d" else "-") + PosixFilePermissions.toString(attrs.permissions()))
    new FileStatus(
      if (dir) 0L else attrs.size(), dir, 1, getDefaultBlockSize,
      attrs.lastModifiedTime().toMillis, attrs.lastAccessTime().toMillis,
      perm, attrs.owner().getName, attrs.group().getName,
      makeQualified(f))
  }

  override def getFileStatus(f: Path): FileStatus = statusOf(f)

  override def listStatus(f: Path): Array[FileStatus] = {
    val p = nio(f)
    ChecksummedLocalFs.listed.merge(p.toString, 1, (a: Integer, b: Integer) => a + b)
    if (!JFiles.isDirectory(p)) Array(statusOf(f))
    else Using.resource(JFiles.list(p)) { stream =>
      stream.iterator.asScala
        .map(c => statusOf(new Path(f, c.getFileName.toString)))
        .toArray
    }
  }

  override def getFileChecksum(p: Path): FileChecksum = {
    val st = getFileStatus(p)
    if (st.isDirectory) null
    else {
      val in = open(p)
      val md = MessageDigest.getInstance("MD5")
      try {
        val buf = Array.ofDim[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      new ChecksummedLocalFs.Md5Checksum(md.digest())
    }
  }
}

object ChecksummedLocalFs {
  private val listed = new java.util.concurrent.ConcurrentHashMap[String, Integer]

  /** listStatus calls per local path, JVM-wide: local-mode executors share
    * the driver's JVM, so a test can count the listings a plan issues. */
  def listStatusCalls: Map[String, Int] =
    listed.asScala.map { case (k, v) => k -> v.intValue }.toMap

  /** FileChecksum.equals compares (algorithm, length, bytes) — the base
    * class contract — so two of these are equal iff file contents match. */
  final class Md5Checksum(bytes: Array[Byte]) extends FileChecksum {
    override def getAlgorithmName: String = "MD5-content-test"
    override def getLength: Int = bytes.length
    override def getBytes: Array[Byte] = bytes
    override def write(out: DataOutput): Unit = out.write(bytes)
    override def readFields(in: DataInput): Unit =
      throw new UnsupportedOperationException("test checksum is write-only")
  }
}
