package graft.core

import org.apache.hadoop.fs.Path

/** Pure path/size helpers (SURVEY.md §2.1 ops 20-22). */
object PathUtils {

  /** Destination-relative path: strip `root` prefix from `abs`; "." for
    * identity; None if `abs` is not a descendant (DistCPPlus.java:405-430). */
  def makeRelative(root: String, abs: String): Option[String] = {
    val r = segments(root)
    val a = segments(abs)
    if (a.length < r.length || a.take(r.length) != r) None
    else if (a.length == r.length) Some(".")
    else Some(a.drop(r.length).mkString("/"))
  }

  private def segments(p: String): Vector[String] =
    p.split('/').filter(_.nonEmpty).toVector

  /** The destination of a destination-relative path under `dstRoot`: the
    * inverse of [[makeRelative]], "." being the root itself. */
  def dstPath(dstRoot: String, relDst: String): Path =
    if (relDst == ".") new Path(dstRoot) else new Path(dstRoot, relDst)

  /** Parse symbolic size literals: `1230k`, `891g`, ... with binary prefixes
    * k/m/g/t/p/e (Options.java:24-33, TraditionalBinaryPrefix). */
  def parseSizeLiteral(s: String): Either[String, Long] = {
    val t = s.trim.toLowerCase
    if (t.isEmpty) Left("empty size literal")
    else {
      val (digits, suffix) = if (t.last.isDigit) (t, "") else (t.dropRight(1), t.takeRight(1))
      val mult: Either[String, Long] = suffix match {
        case ""  => Right(1L)
        case "k" => Right(1L << 10)
        case "m" => Right(1L << 20)
        case "g" => Right(1L << 30)
        case "t" => Right(1L << 40)
        case "p" => Right(1L << 50)
        case "e" => Right(1L << 60)
        case other => Left(s"unknown size suffix '$other'")
      }
      for {
        m <- mult
        n <- digits.toLongOption.toRight(s"bad size literal '$s'")
      } yield n * m
    }
  }
}
