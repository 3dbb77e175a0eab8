package perfbench

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

/** Length and content digest of one file, keyed elsewhere by relative path. */
final case class FileState(len: Long, md5: String)

/** What one copy op must leave behind: the exact destination tree, the COPY
  * and BYTESCOPIED counters, and the paths the delete sync must remove. */
final case class Expected(files: Map[String, FileState], copied: Long, bytes: Long, deleted: Seq[String])

/** Seeded generators for the copy workloads. Sizes, names and contents come
  * from the seed only; nothing is tuned to how the program packs buckets. */
object Trees {

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Writes `len` seeded bytes to `p` with modification time `mtimeS`
    * (whole seconds, which every local file system stores exactly). */
  def writeFile(p: Path, len: Long, seed: Long, mtimeS: Long): FileState = {
    Files.createDirectories(p.getParent)
    val rng = new SplittableRandom(seed)
    val md = MessageDigest.getInstance("MD5")
    val buf = ByteBuffer.allocate(1 << 20)
    val ch = FileChannel.open(p, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      var left = len
      while (left > 0) {
        val n = math.min(left, buf.capacity.toLong).toInt
        buf.clear()
        var i = 0
        while (i + 8 <= n) { buf.putLong(rng.nextLong()); i += 8 }
        while (i < n) { buf.put(rng.nextInt().toByte); i += 1 }
        buf.flip()
        md.update(buf.array(), 0, n)
        while (buf.hasRemaining) ch.write(buf)
        left -= n
      }
    } finally ch.close()
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeS * 1000))
    FileState(len, hex(md.digest()))
  }

  /** Log-uniform integer in [lo, hi]. */
  private def logUniform(rng: SplittableRandom, lo: Long, hi: Long): Long =
    math.round(math.exp(math.log(lo.toDouble) + rng.nextDouble() * (math.log(hi.toDouble) - math.log(lo.toDouble))))

  private val BaseMtimeS = 1_600_000_000L

  /** `copy_full` source: a shallow tree (depth 2) whose bytes sit in a few
    * dozen large files with log-normal sizes around `bigMedian`, next to a
    * couple of hundred small ones. */
  def copyTree(root: Path, seed: Long, bigMedian: Long): Map[String, FileState] = {
    val rng = new SplittableRandom(seed)
    val dirs = (0 until 4 + rng.nextInt(4)).map(i => s"part$i")
    val nBig = 24 + rng.nextInt(17)
    val nSmall = 150 + rng.nextInt(100)
    (0 until nBig + nSmall).map { i =>
      val len =
        if (i < nBig) math.max(1L << 20, math.round(bigMedian * math.exp(0.6 * rng.nextGaussian())))
        else logUniform(rng, 512, 64 << 10)
      val rel = s"${dirs(rng.nextInt(dirs.length))}/f$i.bin"
      rel -> writeFile(root.resolve(rel), len, rng.nextLong(), BaseMtimeS + rng.nextInt(86400))
    }.toMap
  }

  /** `sync_update` source: metadata-heavy, `nFiles` small files spread over
    * directories four levels deep. Returns the files and the number of
    * directories (root included). */
  def syncTree(root: Path, seed: Long, nFiles: Int): (Map[String, FileState], Int) = {
    val rng = new SplittableRandom(seed)
    var level = Vector("")
    var all = Vector.empty[String]
    for (fan <- Seq((2, 3), (2, 2), (1, 2), (1, 2))) {
      level = level.flatMap(d => (0 until fan._1 + rng.nextInt(fan._2 - fan._1 + 1)).map(i => s"${d}d$i/"))
      all ++= level
    }
    val fileDirs = all.filter(_.count(_ == '/') >= 2)
    val files = (0 until nFiles).map { i =>
      val rel = s"${fileDirs(rng.nextInt(fileDirs.length))}f$i.dat"
      rel -> writeFile(root.resolve(rel), logUniform(rng, 64, 16 << 10), rng.nextLong(), BaseMtimeS)
    }.toMap
    all.foreach(d => Files.createDirectories(root.resolve(d)))
    (files, all.length + 1)
  }

  /** Exact mirror of `src` at `dst`, modification times kept. */
  def mirror(src: Path, dst: Path): Unit = {
    deleteTree(dst)
    walk(src).foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
  }

  /** A fresh seeded mutation of about 1% of the files of `src`: rewrites
    * (new length and content, newer mtime), adds and deletes, in roughly
    * equal parts. `files` is the tree's current state; the result is what
    * a correct sync must produce from a destination that mirrored it. */
  def mutate(src: Path, files: Map[String, FileState], seed: Long, op: Int): Expected = {
    val rng = new SplittableRandom(seed * 1_000_003L + op)
    val names = files.keys.toVector.sorted
    val n = math.max(3, names.length / 100)
    val picked = new scala.util.Random(rng.nextLong()).shuffle(names).take(2 * (n / 3) + 1)
    val (rewrite, delete) = picked.splitAt(picked.length - n / 3)
    val dirs = names.map(r => r.take(r.lastIndexOf('/') + 1)).distinct
    val mtime = BaseMtimeS + 1 + op
    val rewritten = rewrite.map { r =>
      r -> writeFile(src.resolve(r), logUniform(rng, 64, 16 << 10), rng.nextLong(), mtime)
    }
    val added = (0 until n - rewrite.length).map { i =>
      val r = s"${dirs(rng.nextInt(dirs.length))}op${op}_$i.dat"
      r -> writeFile(src.resolve(r), logUniform(rng, 64, 16 << 10), rng.nextLong(), mtime)
    }
    delete.foreach(r => Files.delete(src.resolve(r)))
    val changed = rewritten ++ added
    Expected(files -- delete ++ changed, changed.length.toLong, changed.map(_._2.len).sum, delete)
  }

  def walk(root: Path): Vector[Path] =
    if (!Files.exists(root)) Vector.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_ != root).toVector finally s.close()
    }

  def deleteTree(root: Path): Unit =
    walk(root).sortBy(-_.getNameCount).foreach(Files.delete)

  /** Files under `root` (relative path → length and digest). Directories
    * are implied by the file paths. */
  def scan(root: Path): Map[String, FileState] =
    walk(root).filter(Files.isRegularFile(_)).map { p =>
      val md = MessageDigest.getInstance("MD5")
      val ch = FileChannel.open(p)
      val buf = ByteBuffer.allocate(1 << 20)
      try {
        var n = ch.read(buf)
        while (n >= 0) { md.update(buf.array(), 0, buf.position()); buf.clear(); n = ch.read(buf) }
      } finally ch.close()
      root.relativize(p).toString -> FileState(Files.size(p), hex(md.digest()))
    }.toMap

  /** First difference between an expected and an actual tree, if any. */
  def diff(want: Map[String, FileState], got: Map[String, FileState]): Option[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = want.keySet.intersect(got.keySet).filter(k => want(k) != got(k))
    if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) None
    else Some(s"destination differs: ${missing.size} missing (${missing.take(2).mkString(", ")}), " +
      s"${extra.size} extra (${extra.take(2).mkString(", ")}), ${wrong.size} wrong content")
  }
}
