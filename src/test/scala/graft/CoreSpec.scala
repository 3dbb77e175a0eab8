package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Property-style tests for the pure copy-layer helpers (SURVEY.md §5.3).
  * Seeded RNG rather than scalacheck-bridge (not in the offline cache).
  */
class CoreSpec extends AnyFunSuite {

  private val rnd = new Random(42)

  // --- makeRelative (DistCPPlus.java:405-430) ---
  test("makeRelative strips root prefix") {
    assert(PathUtils.makeRelative("/a/b", "/a/b/c/d").contains("c/d"))
    assert(PathUtils.makeRelative("/a/b", "/a/b").contains("."))
    assert(PathUtils.makeRelative("/a/b", "/a/bc").isEmpty)
    assert(PathUtils.makeRelative("/a/b/", "/a/b/c").contains("c"))
  }

  test("makeRelative inverse property") {
    for (_ <- 1 to 200) {
      val root = "/" + Seq.fill(1 + rnd.nextInt(4))(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString("/")
      val rel = Seq.fill(1 + rnd.nextInt(4))(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString("/")
      assert(PathUtils.makeRelative(root, s"$root/$rel").contains(rel))
    }
  }

  // --- isAncestorPath (DistCpUtils.java:113-119) ---
  test("isAncestorPath on segment boundaries only") {
    assert(PathUtils.isAncestorPath("/a/b", "/a/b/c"))
    assert(!PathUtils.isAncestorPath("/a/b", "/a/bc"))
    assert(!PathUtils.isAncestorPath("/a/b/c", "/a/b"))
  }

  // --- size literals (Options.java:24-33) ---
  test("size literal parse") {
    assert(PathUtils.parseSizeLiteral("1230k") == Right(1230L * 1024))
    assert(PathUtils.parseSizeLiteral("891g") == Right(891L << 30))
    assert(PathUtils.parseSizeLiteral("42") == Right(42L))
    assert(PathUtils.parseSizeLiteral("5x").isLeft)
    assert(PathUtils.parseSizeLiteral("").isLeft)
  }

  test("size literal round-trip property") {
    val suffixes = Map('k' -> 10, 'm' -> 20, 'g' -> 30, 't' -> 40, 'p' -> 50, 'e' -> 60)
    for (_ <- 1 to 200) {
      val n = rnd.nextInt(1000).toLong
      val (c, sh) = suffixes.toSeq(rnd.nextInt(suffixes.size))
      assert(PathUtils.parseSizeLiteral(s"$n$c") == Right(n << sh))
    }
  }

  // --- FileAttribute parse (FileAttribute.java:14-40) ---
  test("attribute string parse with dup/unknown rejection") {
    assert(FileAttribute.parse("rbugpt").map(_.size) == Right(6))
    assert(FileAttribute.parse("rr").isLeft)
    assert(FileAttribute.parse("z").isLeft)
    assert(FileAttribute.parse("").map(_.size) == Right(0))
  }

  // --- arg conflict matrix (Arguments.java:248-268) ---
  test("conflict matrix") {
    assert(Args.parse(Seq("-update", "-overwrite", "/s", "/d")).isLeft)
    assert(Args.parse(Seq("-delete", "/s", "/d")).isLeft)
    assert(Args.parse(Seq("-skipcrccheck", "/s", "/d")).isLeft)
    assert(Args.parse(Seq("-skiptscheck", "-overwrite", "/s", "/d")).isLeft)
    assert(Args.parse(Seq("-delete", "-update", "/s", "/d")).isRight)
    assert(Args.parse(Seq("-update", "-skipcrccheck", "/s", "/d")).isRight)
    assert(Args.parse(Seq("/s")).isLeft)
    assert(Args.parse(Seq("-puu", "/s", "/d")).isLeft) // dup 'u'
    assert(Args.parse(Seq("-put", "/s", "/d")).map(_.preserve) ==
      Right(Set[FileAttribute](FileAttribute.User, FileAttribute.Timestamp)))
  }

  test("flag values") {
    val c = Args.parse(Seq("-filelimit", "3", "-sizelimit", "4k", "-m", "7", "/s1", "/s2", "/d"))
    assert(c.isRight)
    val cfg = c.toOption.get
    assert(cfg.fileLimit == 3 && cfg.sizeLimit == 4096 && cfg.maxTasks == 7)
    assert(cfg.srcs == Seq("/s1", "/s2") && cfg.dst == "/d")
  }
}
