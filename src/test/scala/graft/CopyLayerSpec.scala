package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.{Path => HPath}

import graft.core._
import graft.enumerate.Enumerate
import graft.exec.Executor
import graft.plan.Planner

/** Golden filesystem tests for the copy layer (FIXTURES.md §2): synthesize a
  * local tree, run the planner + executor, assert recursive dest equality and
  * the scenario behaviors (update skip, delete sync, duplication, limits,
  * regex selection, attribute preservation).
  */
class CopyLayerSpec extends SparkTestBase {

  private def mkTree(base: Path): Path = {
    val rnd = new Random(7)
    def write(rel: String, n: Int): Unit = {
      val p = base.resolve(rel)
      Files.createDirectories(p.getParent)
      val bytes = Array.ofDim[Byte](n)
      rnd.nextBytes(bytes)
      Files.write(p, bytes)
    }
    write("a.txt", 1024)
    write("empty.bin", 0)
    write("big.bin", 4 * 1024 * 1024)
    write("sub1/b.log", 2048)
    write("sub1/deep/c.dat", 3072)
    Files.createDirectories(base.resolve("sub2"))
    write("üñïçødé dir/x y.txt", 99)
    write("logs-2024-01/part-000.txt", 10)
    write("logs-2024-02/part-001.txt", 10)
    base
  }

  private def tmpDir(tag: String): Path = {
    val p = Paths.get("target/fixtures", tag + "-" + System.nanoTime()).toAbsolutePath
    Files.createDirectories(p)
    p
  }

  private def treeListing(root: Path): Map[String, Long] =
    Files.walk(root).iterator().asScala
      .filter(p => p != root)
      .map(p => root.relativize(p).toString -> (if (Files.isDirectory(p)) -1L else Files.size(p)))
      .toMap

  private def fileBytes(p: Path): Array[Byte] = Files.readAllBytes(p)

  private def runCopy(extra: Seq[String], src: Path, dst: Path): Executor.CopyStats = {
    val cfg = Args.parse(extra ++ Seq(src.toString, dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    Executor.execute(spark, plan, cfg)
  }

  test("plain recursive copy reproduces the tree") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val stats = runCopy(Nil, src, dst)
    assert(treeListing(src) == treeListing(dst))
    assert(stats.copied == 8 && stats.failed == 0)
    assert(fileBytes(src.resolve("big.bin")).sameElements(fileBytes(dst.resolve("big.bin"))))
    assert(Files.isDirectory(dst.resolve("sub2"))) // empty dir created
  }

  test("update skips same files, recopies changed ones") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    runCopy(Seq("-pt"), src, dst) // preserve mtimes so "same" is detectable
    // mutate one dest file (same length, different content+mtime)
    Files.write(dst.resolve("a.txt"), Array.fill[Byte](1024)(1))
    val stats = runCopy(Seq("-update", "-skipcrccheck", "-pt"), src, dst)
    assert(stats.copied == 1, s"expected exactly the mutated file recopied, got $stats")
    assert(fileBytes(src.resolve("a.txt")).sameElements(fileBytes(dst.resolve("a.txt"))))
  }

  test("update with skiptscheck + skipcrccheck skips on length alone") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    runCopy(Nil, src, dst)
    Files.write(dst.resolve("a.txt"), Array.fill[Byte](1024)(1)) // same length
    val stats = runCopy(Seq("-update", "-skiptscheck", "-skipcrccheck"), src, dst)
    assert(stats.copied == 0 && stats.skipped == 0) // pruned at plan time already
  }

  test("delete-sync removes dest extras with ancestor suppression") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    runCopy(Nil, src, dst)
    Files.write(dst.resolve("stale.txt"), "x".getBytes(StandardCharsets.UTF_8))
    Files.createDirectories(dst.resolve("staledir"))
    Files.write(dst.resolve("staledir/nested.txt"), "y".getBytes(StandardCharsets.UTF_8))
    runCopy(Seq("-update", "-delete"), src, dst)
    assert(!Files.exists(dst.resolve("stale.txt")))
    assert(!Files.exists(dst.resolve("staledir")))
    assert(treeListing(src) == treeListing(dst))
  }

  test("repeated regexPath+update+delete sync keeps copied files (ancestor closure)") {
    // -regexPath emits a file-only manifest; delete-sync must not doom the
    // parent dirs of the selected leaves (recursive delete would take the
    // copied files with them on the second run)
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    def sync(): Executor.CopyStats = {
      val cfg = Args.parse(Seq(
        "-update", "-delete", "-skipcrccheck",
        "-regexPath", src.toString, "logs-2024-.*/part-.*\\.txt",
        dst.toString)).toOption.get
      val plan = Planner.plan(spark, cfg)
      Executor.execute(spark, plan, cfg)
    }
    sync()
    val after1 = treeListing(dst)
    assert(after1.filter(_._2 >= 0).keySet ==
      Set("logs-2024-01/part-000.txt", "logs-2024-02/part-001.txt"))
    sync() // second run: nothing to copy, and nothing may be deleted
    assert(treeListing(dst) == after1)
    // a genuinely stale dest entry still gets deleted
    Files.write(dst.resolve("stale.txt"), "x".getBytes(StandardCharsets.UTF_8))
    sync()
    assert(!Files.exists(dst.resolve("stale.txt")))
    assert(treeListing(dst) == after1)
  }

  test("duplicate destinations raise the -2 analog") {
    val base = tmpDir("dup")
    val s1 = base.resolve("s1"); val s2 = base.resolve("s2")
    Files.createDirectories(s1); Files.createDirectories(s2)
    Files.write(s1.resolve("same"), "a".getBytes)
    Files.write(s2.resolve("same"), "b".getBytes)
    // two roots nesting under basenames can't collide; force collision via
    // same basename trees
    val s3 = base.resolve("x/n"); val s4 = base.resolve("y/n")
    Files.createDirectories(s3); Files.createDirectories(s4)
    Files.write(s3.resolve("f"), "a".getBytes)
    Files.write(s4.resolve("f"), "b".getBytes)
    val dst = base.resolve("out")
    val cfg = Args.parse(Seq(s3.toString, s4.toString, dst.toString)).toOption.get
    intercept[DuplicationException] {
      Planner.plan(spark, cfg)
    }
  }

  test("filelimit / sizelimit truncate in traversal order") {
    val base = tmpDir("lim")
    val src = base.resolve("src")
    for (i <- 1 to 6) {
      Files.createDirectories(src)
      Files.write(src.resolve(f"f$i%02d"), Array.fill[Byte](1000)(i.toByte))
    }
    val dst1 = base.resolve("out1")
    runCopy(Seq("-filelimit", "3"), src, dst1)
    assert(treeListing(dst1).keySet == Set("f01", "f02", "f03"))
    val dst2 = base.resolve("out2")
    runCopy(Seq("-sizelimit", "2500"), src, dst2)
    assert(treeListing(dst2).keySet == Set("f01", "f02"))
  }

  test("sizelimit skip-and-continue admits later smaller files") {
    // Reference DistCPPlus.java:677-678: a file is skipped when admitted
    // bytes + its length would exceed the limit, and the walk CONTINUES —
    // so after the 10000-byte file is skipped, the later 3000-byte file
    // still fits (5000+3000 <= 8000). A cumulative prefix cutoff would stop
    // at f01. This test encodes the reference's file set.
    val base = tmpDir("skipcont")
    val src = base.resolve("src")
    Files.createDirectories(src)
    Files.write(src.resolve("f01"), Array.fill[Byte](5000)(1))
    Files.write(src.resolve("f02"), Array.fill[Byte](10000)(2))
    Files.write(src.resolve("f03"), Array.fill[Byte](3000)(3))
    val dst = base.resolve("out")
    runCopy(Seq("-sizelimit", "8000"), src, dst)
    assert(treeListing(dst).keySet == Set("f01", "f03"))
  }

  test("-update overrides limits (same-file check overwrites the limit skip)") {
    // Reference DistCPPlus.java:681-700: under -update, `skipfile = isSame`
    // OVERWRITES the limit decision, so -filelimit/-sizelimit are no-ops.
    val base = tmpDir("updlim")
    val src = base.resolve("src")
    Files.createDirectories(src)
    for (i <- 1 to 3) Files.write(src.resolve(s"f0$i"), Array.fill[Byte](1000)(i.toByte))
    val dst = base.resolve("out")
    val stats = runCopy(Seq("-update", "-skipcrccheck", "-filelimit", "1"), src, dst)
    assert(stats.copied == 3)
    assert(treeListing(dst).keySet == Set("f01", "f02", "f03"))
  }

  test("applyLimits matches the reference's sequential skip-and-continue walk") {
    import spark.implicits._
    val rnd = new Random(31)
    for (round <- 1 to 4) {
      val lens = Vector.fill(200)(rnd.nextInt(1000).toLong)
      val tasks = lens.zipWithIndex.map { case (len, i) =>
        CopyTask(FileMeta(f"/s/f$i%04d", len, isDir = false, 1, 0, 0, 0, "", "", ""), f"f$i%04d")
      }
      val fileLimit = if (round % 2 == 0) 50L + rnd.nextInt(100) else Long.MaxValue
      val sizeLimit = if (round >= 2) 20000L + rnd.nextInt(40000) else Long.MaxValue
      // driver-side reference walk (DistCPPlus.java:675-705)
      var fc = 0L; var bc = 0L
      val expect = tasks.filter { t =>
        val skip = fc == fileLimit || bc + t.src.length > sizeLimit
        if (!skip) { fc += 1; bc += t.src.length }
        !skip
      }.map(_.relDst).toSet
      val ds = spark.createDataset(tasks).repartition(7) // scramble partitioning
      val got = Planner.applyLimits(ds, fileLimit, sizeLimit).collect().map(_.relDst).toSet
      assert(got == expect, s"round=$round fileLimit=$fileLimit sizeLimit=$sizeLimit")
    }
  }

  test("-rg at a concrete directory selects immediate files only") {
    // Reference Arguments.java:312-326 dir branch: listStatus of the dir,
    // subdirectories skipped — sub1/deep/c.dat must NOT be selected.
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val cfg = Args.parse(Seq("-rg", s"$src/sub1", dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    Executor.execute(spark, plan, cfg)
    assert(treeListing(dst).keySet == Set("b.log"))
  }

  test("flatRegex dir branch honors a programmatic name prefix") {
    // getFilePaths' prefix parameter (Arguments.java:307,320): the -rg CLI
    // passes "" (as the reference's does at :196), but programmatic callers
    // filter immediate files by name prefix.
    val src = mkTree(tmpDir("src"))
    val all = graft.enumerate.Enumerate.flatRegex(spark, s"$src/sub1")
      .collect().map(_.path.split('/').last).toSet
    val pref = graft.enumerate.Enumerate.flatRegex(spark, s"$src/sub1", prefix = "b")
      .collect().map(_.path.split('/').last).toSet
    assert(all.contains("b.log"))
    assert(pref == all.filter(_.startsWith("b")))
    assert(graft.enumerate.Enumerate.flatRegex(spark, s"$src/sub1", prefix = "zz")
      .collect().isEmpty)
  }

  test("-rg at a concrete file selects it directly") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val cfg = Args.parse(Seq("-rg", s"$src/a.txt", dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    Executor.execute(spark, plan, cfg)
    assert(treeListing(dst) == Map("a.txt" -> 1024L))
  }

  test("-rg with a missing parent yields an empty plan") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val cfg = Args.parse(Seq("-rg", s"$src/nosuchdir/part-.*", dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    assert(plan.sourceFilesForTransfer.isEmpty && !plan.hasFileCopied)
  }

  test("per-phase wall-clock lands in CopyStats") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val stats = runCopy(Nil, src, dst)
    assert(stats.setupMs >= 0 && stats.runMs > 0 && stats.cleanupMs >= 0)
  }

  test("flat regex source selects by name") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val cfg = Args.parse(Seq("-rg", s"$src/logs-2024-0[12]", dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    Executor.execute(spark, plan, cfg)
    val listing = treeListing(dst)
    assert(listing.keySet == Set(
      "logs-2024-01", "logs-2024-01/part-000.txt",
      "logs-2024-02", "logs-2024-02/part-001.txt"))
  }

  test("depth-wise regexPath selects matching leaves") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val cfg = Args.parse(
      Seq("-regexPath", src.toString, "logs-2024-.*/part-.*\\.txt", dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    Executor.execute(spark, plan, cfg)
    val files = treeListing(dst).filter(_._2 >= 0).keySet
    assert(files == Set("logs-2024-01/part-000.txt", "logs-2024-02/part-001.txt"))
  }

  test("overwrite recopies unconditionally") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    runCopy(Seq("-pt"), src, dst)
    val stats = runCopy(Seq("-overwrite", "-pt"), src, dst)
    assert(stats.copied == 8 && stats.skipped == 0)
    assert(treeListing(src) == treeListing(dst))
  }

  test("failed copy surfaces FAIL and -i ignores it") {
    val base = tmpDir("fail")
    val src = base.resolve("src")
    Files.createDirectories(src)
    Files.write(src.resolve("ok.txt"), "fine".getBytes(StandardCharsets.UTF_8))
    val dst = base.resolve("out")
    val cfg = Args.parse(Seq("-i", src.toString, dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    // sabotage: delete the source file between plan and execute
    Files.delete(src.resolve("ok.txt"))
    val stats = Executor.execute(spark, plan, cfg)
    assert(stats.failed == 1 && stats.copied == 0)
  }

  test("timestamp preservation with -pt") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val mt = 1600000000000L
    Files.setLastModifiedTime(src.resolve("a.txt"), java.nio.file.attribute.FileTime.fromMillis(mt))
    runCopy(Seq("-pt"), src, dst)
    assert(Files.getLastModifiedTime(dst.resolve("a.txt")).toMillis == mt)
  }

  test("permission preservation with -pp") {
    import java.nio.file.attribute.PosixFilePermissions
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    Files.setPosixFilePermissions(src.resolve("a.txt"), PosixFilePermissions.fromString("r--r-----"))
    runCopy(Seq("-pp"), src, dst)
    assert(Files.getPosixFilePermissions(dst.resolve("a.txt")) ==
      PosixFilePermissions.fromString("r--r-----"))
  }

  test("exportOnly plans without copying") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val cfg = Args.parse(Seq("-exportOnly", src.toString, dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    assert(plan.hasFileCopied)
    assert(plan.sourceFilesForTransfer.length == 8)
    assert(!Files.exists(dst))
  }

  test("CLI -exportOnly actually writes the parquet plan manifest") {
    val base = tmpDir("export")
    val src = mkTree(base.resolve("src"))
    val dst = base.resolve("out")
    val planDir = base.resolve("plan").toString
    assert(graft.cli.Main.run(
      Array("-exportOnly", "-exportPath", planDir, src.toString, dst.toString), spark) == 0)
    assert(!Files.exists(dst), "export-only must not copy")
    // the exported manifest round-trips and executes later (plan now,
    // execute later — the reference's generateConf surface)
    val reloaded = Planner.loadPlan(spark, planDir)
    assert(reloaded.tasks.filter(!_.src.isDir).count() == 8)
    val cfg = Args.parse(Seq(src.toString, dst.toString)).toOption.get
    Executor.execute(spark, reloaded, cfg)
    assert(treeListing(src) == treeListing(dst))
  }

  test("duplicate destinations are rejected even when one source is up to date (-update)") {
    // dup-check must run on the PRE-diff manifest: sync x/data to dst first,
    // then plan an -update from BOTH x/data and y/data — x's file is now up
    // to date (diff would drop it), but the two roots still collide on
    // data/f and the reference contract is exit -2, not a silent overwrite
    // that ping-pongs dst between runs.
    val base = tmpDir("dupdiff")
    val x = base.resolve("x/data"); val y = base.resolve("y/data")
    Files.createDirectories(x); Files.createDirectories(y)
    Files.write(x.resolve("f"), "from-x".getBytes(StandardCharsets.UTF_8))
    Files.write(y.resolve("f"), "from-y!".getBytes(StandardCharsets.UTF_8))
    val dst = base.resolve("dst")
    runCopy(Seq("-pt"), x, dst.resolve("data"))
    assert(graft.cli.Main.run(
      Array("-update", "-pt", x.toString, y.toString, dst.toString), spark) == -2)
  }

  test("a destination dir colliding with an existing FILE fails loud, exit -999") {
    val base = tmpDir("dirfile")
    val src = base.resolve("s"); Files.createDirectories(src.resolve("a"))
    Files.write(src.resolve("a/child"), "x".getBytes(StandardCharsets.UTF_8))
    val dst = base.resolve("d"); Files.createDirectories(dst)
    Files.write(dst.resolve("a"), "i am a file".getBytes(StandardCharsets.UTF_8))
    // mkdirs(dst/a) cannot succeed: the dir task must report FAIL (not a
    // silent DIR success over a file) and the run must exit -999 without -i
    assert(graft.cli.Main.run(Array(src.toString, dst.toString), spark) == -999)
  }

  test("file lists tolerate CRLF and padded lines (-f)") {
    val base = tmpDir("flist-crlf")
    val src = mkTree(base.resolve("src"))
    val lst = base.resolve("uris.txt")
    Files.write(lst, s"$src/a.txt\r\n  $src/sub1  \r\n".getBytes(StandardCharsets.UTF_8))
    val dst = base.resolve("out")
    val cfg = Args.parse(Seq("-f", lst.toString, dst.toString)).toOption.get
    Executor.execute(spark, Planner.plan(spark, cfg), cfg)
    val files = treeListing(dst).filter(_._2 >= 0).keySet
    assert(files == Set("a.txt", "sub1/b.log", "sub1/deep/c.dat"),
      "trailing \\r / padding must be trimmed, not break getFileStatus")
  }

  test("flat regex with no slash and no such file yields the empty selection") {
    // reference branch 4: a missing parent is an empty set, not a crash —
    // and a relative pattern with no '/' must not build Path(\"\")
    assert(graft.enumerate.Enumerate.flatRegex(spark, "part.*").isEmpty)
  }

  test("file-list source (-f)") {
    val base = tmpDir("flist")
    val src = mkTree(base.resolve("src"))
    val lst = base.resolve("uris.txt")
    Files.write(lst, s"$src/a.txt\n$src/sub1\n".getBytes(StandardCharsets.UTF_8))
    val dst = base.resolve("out")
    val cfg = Args.parse(Seq("-f", lst.toString, dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    Executor.execute(spark, plan, cfg)
    val files = treeListing(dst).filter(_._2 >= 0).keySet
    assert(files == Set("a.txt", "sub1/b.log", "sub1/deep/c.dat"))
  }

  test("pluggable copy function (-mapper) filters tasks") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val cfg = Args.parse(
      Seq("-mapper", "graft.SkipLogsCopyFunction", src.toString, dst.toString)).toOption.get
    assert(cfg.mapperClass.contains("graft.SkipLogsCopyFunction"))
    val plan = Planner.plan(spark, cfg)
    val stats = Executor.execute(spark, plan, cfg)
    assert(!Files.exists(dst.resolve("sub1/b.log"))) // filtered by the mapper
    assert(Files.exists(dst.resolve("a.txt")))
    assert(stats.skipped == 1 && stats.copied == 7)
  }

  test("market id passthrough (-market)") {
    val cfg = Args.parse(Seq("-market", "7", "/s", "/d")).toOption.get
    assert(cfg.marketId == 7)
    assert(Args.parse(Seq("-market", "x", "/s", "/d")).isLeft)
  }

  test("plan save/load roundtrip executes identically") {
    val src = mkTree(tmpDir("src"))
    val base = tmpDir("plan")
    val dst = base.resolve("out")
    val cfg = Args.parse(Seq(src.toString, dst.toString)).toOption.get
    val plan = Planner.plan(spark, cfg)
    Planner.savePlan(plan, base.resolve("manifests").toString)
    val reloaded = Planner.loadPlan(spark, base.resolve("manifests").toString)
    assert(reloaded.tasks.count() == plan.tasks.count())
    val stats = Executor.execute(spark, reloaded, cfg)
    assert(stats.copied == 8)
    assert(treeListing(src) == treeListing(dst))
  }

  test("scalable bucket assignment balances bytes without a global window") {
    import spark.implicits._
    def file(rel: String, len: Long): CopyTask =
      CopyTask(FileMeta(s"/s/$rel", len, isDir = false, 1, 0, 0, 0, "", "", ""), rel)
    def dir(rel: String): CopyTask = // a dir's reported length must not weigh
      CopyTask(FileMeta(s"/s/$rel", 4096, isDir = true, 1, 0, 0, 0, "", "", ""), rel)
    def weight(t: CopyTask): Long = if (t.src.isDir) 0L else t.src.length
    def check(tasks: Seq[CopyTask], n: Int): Unit = {
      val clue = s"n=$n tasks=${tasks.length}"
      val assigned = Planner.assignBuckets(spark.createDataset(tasks).repartition(8), n).collect()
      assert(assigned.map(_._1.relDst).sorted.toSeq == tasks.map(_.relDst).sorted, clue)
      // bucket ids index the executor's identity partitioner
      assert(assigned.forall { case (_, b) => b >= 0 && b < n }, clue)
      // exact global cumsum in relDst order, CLAMPED to n-1: when
      // total % n != 0 the raw (cum-1)/target reaches n on the last file
      val total = tasks.map(weight).sum
      val target = math.max(total / n, 1L)
      val sorted = tasks.sortBy(_.relDst)
      val cums = sorted.map(weight).scanLeft(0L)(_ + _).tail
      val expect = sorted.zip(cums).map { case (t, cum) =>
        t.relDst -> math.min((cum - 1).max(0L) / target, n - 1L).toInt
      }.toMap
      assigned.foreach { case (t, b) => assert(b == expect(t.relDst), s"$clue ${t.relDst}") }
      // ids are non-decreasing in relDst order
      val inOrder = assigned.sortBy(_._1.relDst).map(_._2)
      assert(inOrder.toSeq == inOrder.sorted.toSeq, clue)
      // a bucket holds at most target + its first file; the clamped last
      // bucket also absorbs the total % n remainder
      val maxFile = (0L +: tasks.map(weight)).max
      assigned.groupBy(_._2).foreach { case (b, ts) =>
        val slack = if (b == n - 1) math.max(total - n * target, 0L) else 0L
        assert(ts.map(t => weight(t._1)).sum <= target + maxFile + slack, s"$clue bucket $b")
      }
    }
    val rnd = new Random(13)
    check((1 to 5000).map { i =>
      if (i % 100 == 0) dir(f"f$i%05d") else file(f"f$i%05d", rnd.nextLong(1000000))
    }, 16)
    check((1 to 5).map(i => file(s"f$i", 6)), 16) // n > number of files
    check((1 to 5).map(i => file(s"f$i", 6)), 4) // total % n != 0
    check((1 to 7).map(i => file(s"f$i", 1)), 4) // remainder piles onto bucket n-1
    check((1 to 6).map(i => dir(s"d$i")), 4) // dirs only: a no-op sync's plan
    check(Nil, 4) // empty manifest
    (1 to 6).foreach { _ =>
      check(Seq.tabulate(rnd.nextInt(50))(i => file(f"r$i%02d", rnd.nextLong(1000))), 1 + rnd.nextInt(20))
    }
  }

  test("plain copy of five 6-byte files fills exactly the executor's buckets") {
    // 30 bytes over 4 buckets (local[4]): target = 7, and the fifth file's
    // raw bucket is 4 — one past the identity partitioner's last partition
    val src = tmpDir("five-src")
    (1 to 5).foreach(i => Files.write(src.resolve(s"f$i"), "abcdef".getBytes(StandardCharsets.UTF_8)))
    val dst = tmpDir("five-dst").resolve("out")
    val out = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(out)(graft.cli.Main.run(Array(src.toString, dst.toString), spark))
    val report = out.toString(StandardCharsets.UTF_8)
    assert(rc == 0, report)
    assert(report.contains("COPY=5 "), report)
    assert(treeListing(src) == treeListing(dst))
  }

  test("an -update -delete plan lists each destination directory once") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    runCopy(Seq("-pt"), src, dst)
    val cfg = Args.parse(Seq("-update", "-delete", "-pt", src.toString, s"chkfile://$dst")).toOption.get
    val plan = Planner.plan(spark, cfg)
    assert(plan.deletes.collect().isEmpty) // forces the lazy delete set
    val dstDirs = Files.walk(dst).iterator().asScala.filter(Files.isDirectory(_)).map(_.toString).toSet
    val calls = ChecksummedLocalFs.listStatusCalls.filter { case (p, _) => p == dst.toString || p.startsWith(s"$dst/") }
    assert(calls == dstDirs.map(_ -> 1).toMap)
  }

  test("update with CRC pass (null local checksums => same) still skips") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    runCopy(Seq("-pt"), src, dst)
    // no -skipcrccheck: CRC pass runs; RawLocalFileSystem returns null
    // checksums which the reference contract treats as equal
    val stats = runCopy(Seq("-update", "-pt"), src, dst)
    assert(stats.copied == 0)
  }

  test("CLI exit-code contract: 0 / -1 / -2") {
    val base = tmpDir("cli")
    val src = base.resolve("s"); Files.createDirectories(src)
    Files.write(src.resolve("f"), "x".getBytes(StandardCharsets.UTF_8))
    assert(graft.cli.Main.run(Array(src.toString, base.resolve("ok").toString), spark) == 0)
    assert(graft.cli.Main.run(Array("-update", "-overwrite", "/s", "/d"), spark) == -1)
    assert(graft.cli.Main.run(Array("-nonsense", "/s", "/d"), spark) == -1)
    val s3 = base.resolve("x/n"); val s4 = base.resolve("y/n")
    Files.createDirectories(s3); Files.createDirectories(s4)
    Files.write(s3.resolve("f"), "a".getBytes)
    Files.write(s4.resolve("f"), "b".getBytes)
    assert(graft.cli.Main.run(
      Array(s3.toString, s4.toString, base.resolve("dup").toString), spark) == -2)
  }

  test("depth-regex selection matches a naive walk oracle on random trees") {
    val rnd = new Random(99)
    val names = Vector("alpha", "beta", "a1", "b2", "log-01", "log-02", "data")
    for (round <- 1 to 5) {
      val root = tmpDir(s"rx$round")
      val paths = scala.collection.mutable.Buffer[String]()
      for (_ <- 1 to 30) {
        val depth = 1 + rnd.nextInt(3)
        val rel = Seq.fill(depth)(names(rnd.nextInt(names.length))).mkString("/")
        // a name may already exist as a file where a dir is needed (or vice
        // versa) — skip those collisions, the oracle walks whatever exists
        try {
          val p = root.resolve(rel)
          Files.createDirectories(p.getParent)
          if (!Files.exists(p)) { Files.write(p, "x".getBytes); paths += rel }
        } catch { case _: Exception => }
      }
      val regexes = Seq.fill(2)(Seq("a.*", "b.*", "log-.*", ".*a.*")(rnd.nextInt(4)))
      val (leaves, _) = Enumerate.depthRegex(spark, root.toString, regexes)
      val got = leaves.collect()
        .map(m => root.relativize(Paths.get(new HPath(m.path).toUri.getPath)).toString).toSet
      // naive oracle: full walk, keep entries whose rel segments all match
      import scala.jdk.CollectionConverters._
      val expect = Files.walk(root).iterator().asScala
        .filter(_ != root)
        .map(p => root.relativize(p).toString)
        .filter { rel =>
          val segs = rel.split('/')
          segs.length == regexes.length &&
            segs.zip(regexes).forall { case (s, rx) => s.matches(rx) }
        }.toSet
      assert(got == expect, s"regexes=$regexes")
    }
  }

  test("enumeration matches filesystem walk") {
    val src = mkTree(tmpDir("src"))
    val metas = Enumerate.listTree(spark, src.toString).collect()
    val expect = treeListing(src)
    val got = metas.map(m => new HPath(m.path).toUri.getPath -> m)
      .filter(_._1 != src.toString)
      .map { case (p, m) =>
        src.relativize(Paths.get(p)).toString -> (if (m.isDir) -1L else m.length)
      }.toMap
    assert(got == expect)
  }

  test("copy throughput on a wider tree (microbench sanity)") {
    val base = tmpDir("thru")
    val src = base.resolve("src")
    val rnd = new Random(21)
    for (i <- 1 to 64) {
      val p = src.resolve(f"d${i % 8}/f$i%03d.bin")
      Files.createDirectories(p.getParent)
      val bytes = Array.ofDim[Byte](1024 * 1024)
      rnd.nextBytes(bytes)
      Files.write(p, bytes)
    }
    val dst = base.resolve("out")
    val t0 = System.nanoTime()
    val stats = runCopy(Nil, src, dst)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(stats.copied == 64 && stats.bytesCopied == 64L * 1024 * 1024)
    assert(treeListing(src) == treeListing(dst))
    val mbps = 64.0 / secs
    info(f"copied 64 MiB in $secs%.2f s ($mbps%.0f MiB/s)")
    // sanity floor only — the box is shared and wall-clock here includes
    // Spark job scheduling for ~80 tiny tasks, not sustained I/O
    assert(mbps > 1, f"throughput $mbps%.1f MiB/s unreasonably low")
  }

  test("sameFile truth table: {missing, same, mtime≠, len≠} × {skipts}") {
    import java.nio.file.attribute.FileTime
    val base = tmpDir("truth")
    val mt = 1600000000000L
    def mkFile(rel: String, n: Int, mtime: Long): java.nio.file.Path = {
      val p = base.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](n)(7))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
      p
    }
    val src = mkFile("src/f", 100, mt)
    val fs = new org.apache.hadoop.fs.Path(src.toString).getFileSystem(graft.core.Fs.conf())
    def taskFor(p: java.nio.file.Path): CopyTask = {
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(p.toString))
      CopyTask(graft.enumerate.Enumerate.toMeta(st), "f")
    }
    def same(dstDir: String, skipTs: Boolean): Boolean = {
      val cfg = CopyConfig(update = true, skipTs = skipTs, skipCrc = true)
      Executor.sameAtCopyTime(
        fs, new org.apache.hadoop.fs.Path(src.toString),
        fs, new org.apache.hadoop.fs.Path(base.resolve(dstDir).resolve("f").toString),
        taskFor(src), cfg)
    }
    // missing dst -> never same
    assert(!same("missing", skipTs = false))
    // identical mtime+len -> same
    mkFile("same/f", 100, mt)
    assert(same("same", skipTs = false))
    // mtime differs -> not same unless skipTs (len equal)
    mkFile("ts/f", 100, mt + 5000)
    assert(!same("ts", skipTs = false))
    assert(same("ts", skipTs = true)) // TS check disabled, length equal
    // length differs -> never same regardless of skipTs
    mkFile("len/f", 99, mt)
    assert(!same("len", skipTs = false))
    assert(!same("len", skipTs = true))
  }

  test("batched status hydrates requested paths only") {
    import spark.implicits._
    val src = mkTree(tmpDir("src"))
    val want = Seq(s"$src/a.txt", s"$src/sub1/b.log")
    val got = Enumerate.batchedStatus(spark, spark.createDataset(want)).collect()
    assert(got.map(m => new HPath(m.path).toUri.getPath).toSet == want.toSet)
    assert(got.forall(!_.isDir))
  }

  test("update CRC compare runs for real on a checksum-bearing filesystem") {
    // chkfile:// (ChecksummedLocalFs) returns content MD5s, so this drives
    // the non-null branch of DistCpUtils.java:264-291's truth table that
    // file://'s null checksums always short-circuit: same length + same
    // mtime + DIFFERENT content is recopied iff the CRC check is on.
    def copyUri(extra: Seq[String], src: String, dst: String): Executor.CopyStats = {
      val cfg = Args.parse(extra ++ Seq(src, dst)).toOption.get
      Executor.execute(spark, Planner.plan(spark, cfg), cfg)
    }
    def chk(p: Path): String = "chkfile://" + p.toString
    def scenario(tag: String): (Path, Path) = {
      val src = tmpDir(s"crc-src-$tag")
      val dst = tmpDir(s"crc-dst-$tag").resolve("out")
      Files.write(src.resolve("diff.bin"), Array.fill[Byte](256)(1))
      Files.write(src.resolve("same.bin"), Array.fill[Byte](128)(7))
      copyUri(Seq("-pt"), chk(src), chk(dst)) // populate dst, mtimes preserved
      // mutate dest content at SAME length, then restore the matching mtime
      Files.write(dst.resolve("diff.bin"), Array.fill[Byte](256)(2))
      Files.setLastModifiedTime(
        dst.resolve("diff.bin"), Files.getLastModifiedTime(src.resolve("diff.bin")))
      (src, dst)
    }

    // CRC check ON (the -update default): content divergence is caught
    val (s1, d1) = scenario("on")
    val statsOn = copyUri(Seq("-update", "-pt"), chk(s1), chk(d1))
    // same.bin is pruned at plan time (meta-equal AND checksum-equal);
    // diff.bin survives the CRC pass and is recopied
    assert(statsOn.copied == 1 && statsOn.failed == 0, s"got $statsOn")
    assert(fileBytes(d1.resolve("diff.bin")).toSeq == Array.fill[Byte](256)(1).toSeq)

    // -skipcrccheck: metadata-equal pairs are trusted, divergence survives
    val (s2, d2) = scenario("off")
    val statsOff = copyUri(Seq("-update", "-skipcrccheck", "-pt"), chk(s2), chk(d2))
    assert(statsOff.copied == 0 && statsOff.failed == 0, s"got $statsOff")
    assert(fileBytes(d2.resolve("diff.bin")).toSeq == Array.fill[Byte](256)(2).toSeq)
  }

  test("sameAtCopyTime truth table with real checksums (DistCpUtils.java:239-291)") {
    val base = tmpDir("crc-tt")
    val fs = new HPath(s"chkfile://$base").getFileSystem(Fs.conf())
    assert(fs.isInstanceOf[ChecksummedLocalFs], "service-loaded chkfile FS expected")
    def mk(rel: String, fill: Byte, n: Int, mtime: Long): Path = {
      val p = base.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](n)(fill))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(mtime))
      p
    }
    val mt = 1700000000000L
    def same(src: Path, dst: Path, skipCrc: Boolean): Boolean = {
      // sameAtCopyTime reads only length+mtime off the task's src meta
      val meta = FileMeta(
        s"chkfile://$src", Files.size(src), isDir = false, 1, 0L,
        Files.getLastModifiedTime(src).toMillis, 0L, "rw-r--r--", "u", "g")
      val cfg0 = Args.parse(Seq("-update", src.toString, base.toString)).toOption.get
      val cfg = if (skipCrc) cfg0.copy(skipCrc = true) else cfg0
      Executor.sameAtCopyTime(
        fs, new HPath(s"chkfile://$src"), fs, new HPath(s"chkfile://$dst"),
        CopyTask(meta, dst.getFileName.toString), cfg)
    }
    val a = mk("a/f", 1, 100, mt)
    val aTwin = mk("twin/f", 1, 100, mt)
    val aDiff = mk("diffc/f", 9, 100, mt) // same len+mtime, other content
    assert(same(a, aTwin, skipCrc = false), "identical content ⇒ same")
    assert(!same(a, aDiff, skipCrc = false), "content divergence caught by CRC")
    assert(same(a, aDiff, skipCrc = true), "CRC disabled ⇒ metadata equality wins")
  }

  test("listTree enumerates a pathologically deep tree (lineage stays flat)") {
    // depth 80 crosses the every-8-levels accumulator checkpoint ten times;
    // before that checkpoint existed the union chain grew one plan node per
    // level — this pins both correctness at depth and the flattened plan
    val base = tmpDir("deep")
    var cur = base
    val depth = 80
    (1 to depth).foreach { i =>
      cur = cur.resolve(s"d$i")
      Files.createDirectories(cur)
      if (i % 10 == 0 || i == depth)
        Files.write(cur.resolve(s"f$i.txt"), s"lvl$i".getBytes(StandardCharsets.UTF_8))
    }
    val listed = Enumerate.listTree(spark, base.toString).collect()
    val dirs = listed.count(_.isDir)
    val files = listed.filterNot(_.isDir)
    assert(dirs == depth + 1) // the chain + the root itself
    assert(files.map(_.path.split('/').last).sorted.toSeq ==
      Seq("f10.txt", "f20.txt", "f30.txt", "f40.txt", "f50.txt",
        "f60.txt", "f70.txt", "f80.txt"))
    // the accumulator's plan must not carry one Union arm per level
    val unions = "Union".r.findAllIn(
      Enumerate.listTree(spark, base.toString).queryExecution.optimizedPlan.toString).size
    assert(unions <= 16, s"accumulator lineage grew with depth: $unions Union nodes")
  }
}
