package graft.core

/** Core record types of the copy/catalog layer (SURVEY.md §1.1).
  *
  * The reference models a copy job as three SequenceFile manifests of Hadoop
  * Writables (FilePair.java:15-47); here every manifest is a typed Dataset of
  * these case classes.
  */

/** File/dir metadata — the Spark-side `FileStatus` (DistCPPlus.java:234-262). */
final case class FileMeta(
    path: String,
    length: Long,
    isDir: Boolean,
    replication: Int,
    blockSize: Long,
    mtime: Long,
    atime: Long,
    perm: String,
    owner: String,
    group: String,
)

/** One unit of copy work: source metadata + destination-relative path
  * (FilePair.java — (FileStatus, String output)). */
final case class CopyTask(src: FileMeta, relDst: String)

/** Outcome of one copy attempt (counters enum, DistCPPlus.java:108). */
final case class CopyResult(
    relDst: String,
    srcPath: String,
    status: String, // COPY | SKIP | FAIL | DIR
    bytes: Long,
    error: String,
)

/** Attributes preservable on copy (-p[rbugpt], FileAttribute.java:6-40). */
sealed abstract class FileAttribute(val flag: Char)
object FileAttribute {
  case object Replication extends FileAttribute('r')
  case object BlockSize extends FileAttribute('b')
  case object User extends FileAttribute('u')
  case object Group extends FileAttribute('g')
  case object Permission extends FileAttribute('p')
  case object Timestamp extends FileAttribute('t')

  val all: Seq[FileAttribute] = Seq(Replication, BlockSize, User, Group, Permission, Timestamp)

  /** The attributes a file system reports through owner/group/permission
    * lookups: the only ones a directory takes, and the only ones worth a
    * lookup's cost (a forked `ls -ld` per entry on a local file system
    * without the native Hadoop library). */
  val Ownership: Set[FileAttribute] = Set(User, Group, Permission)

  /** Parse the `-p` attribute string; rejects duplicates and unknown chars
    * (FileAttribute.java:14-40). */
  def parse(s: String): Either[String, Set[FileAttribute]] =
    s.foldLeft(Right(Set.empty): Either[String, Set[FileAttribute]]) {
      case (l @ Left(_), _) => l
      case (Right(acc), c) =>
        all.find(_.flag == c) match {
          case None => Left(s"unknown attribute flag '$c'")
          case Some(a) if acc.contains(a) => Left(s"duplicate attribute flag '$c'")
          case Some(a) => Right(acc + a)
        }
    }
}

/** Job configuration (Options.java:5-15 + Arguments.java flag surface). */
final case class CopyConfig(
    srcs: Seq[String] = Nil,
    dst: String = "",
    update: Boolean = false,
    overwrite: Boolean = false,
    delete: Boolean = false,
    ignoreFailures: Boolean = false,
    preserve: Set[FileAttribute] = Set.empty,
    fileLimit: Long = Long.MaxValue,
    sizeLimit: Long = Long.MaxValue,
    skipCrc: Boolean = false,
    skipTs: Boolean = false,
    maxTasks: Int = 0, // 0 = derive from totalBytes / Executor.BytesPerTask
    exportOnly: Boolean = false,
    exportPath: Option[String] = None, // -exportPath <dir>: parquet plan manifest target
    flatRegex: Option[String] = None, // -rg  <src/regex>   (Arguments.java:184-201)
    depthRegexes: Seq[String] = Nil, // -regexPath segments (Arguments.java:363-437)
    fileList: Option[String] = None, // -f <urilist>        (DistCpUtils.java:378-394)
    mapperClass: Option[String] = None, // -mapper <class>  (DistCPPlus.java:467-480)
    marketId: Int = 0, // -market <int>, opaque passthrough (Arguments.java:173-182)
)

/** Two sources map to one destination (DuplicationException.java; exit -2). */
final class DuplicationException(msg: String) extends RuntimeException(msg)

/** Per-file copy failures without -i (exit -999, DistCPPlus.java:307-333) —
  * typed so the CLI can distinguish them from remote-FS IOExceptions (-3). */
final class CopyFailedException(msg: String) extends RuntimeException(msg)
