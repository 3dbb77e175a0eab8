package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.{RawLocalFileSystem, Path => HPath}
import org.apache.spark.GraftListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

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

  /** `root` qualified by its own file system, as the walk renders the
    * paths it lists, so a root and its entries agree segment for segment. */
  private def qualify(root: String): String = {
    val p = new HPath(root)
    p.getFileSystem(Fs.conf()).makeQualified(p).toString
  }

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

  test("-pp sets a copied directory's permission in the finalize pass") {
    import java.nio.file.attribute.PosixFilePermissions
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    Files.setPosixFilePermissions(src.resolve("sub1"), PosixFilePermissions.fromString("rwxr-x---"))
    runCopy(Seq("-pp"), src, dst)
    assert(Files.getPosixFilePermissions(dst.resolve("sub1")) ==
      PosixFilePermissions.fromString("rwxr-x---"))
  }

  test("an -update -delete -pt run stats no destination directory after the copy pass") {
    // -pt sets times on files only, so the dir-attribute finalize pass
    // (exists + getFileStatus per destination dir) has nothing to do
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    runCopy(Seq("-pt"), src, dst)
    val cfg = Args.parse(Seq("-update", "-delete", "-pt", src.toString, s"chkfile://$dst")).toOption.get
    val plan = Planner.plan(spark, cfg)
    val dstDirs = Files.walk(dst).iterator().asScala.filter(Files.isDirectory(_)).map(_.toString).toSet
    def dirStats = ChecksummedLocalFs.statusCalls.filter { case (p, _) => dstDirs(p) }
    val before = dirStats
    val stats = Executor.execute(spark, plan, cfg)
    assert(stats.copied == 0 && stats.failed == 0)
    assert(dirStats == before)
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
    assert(Enumerate.flatRegex("part.*").isEmpty)
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
    Planner.savePlan(spark, plan, base.resolve("manifests").toString)
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
      val cfg = Args.parse(Seq("-regexPath", root.toString, regexes.mkString("/"),
        tmpDir(s"rx$round-dst").toString)).toOption.get
      val got = Planner.plan(spark, cfg).tasks.collect()
        .map(t => root.relativize(Paths.get(new HPath(t.src.path).toUri.getPath)).toString).toSet
      // naive oracle: full walk, keep the files whose first n rel segments
      // match the n regexes, at depth n or below
      val expect = Files.walk(root).iterator().asScala
        .filter(p => p != root && Files.isRegularFile(p))
        .map(p => root.relativize(p).toString)
        .filter { rel =>
          val segs = rel.split('/')
          segs.length >= regexes.length &&
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
    // depth 80, deeper than one task's DirsPerTask: a Dataset union chain
    // would grow one plan node per level; the walk's result is one flat
    // union of its checkpointed rounds — this pins both correctness at
    // depth and the flat plan
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

  /** Run `body` in job group `group`: its result, the group's
    * [[QueryMetrics]] totals, and per job in order the name and task count
    * of its final stage (a walk level's listing stage is named after
    * Enumerate.scala). */
  private def jobsIn[T](group: String)(body: => T): (T, QueryMetrics.Totals, Seq[(String, Int)]) = {
    val sc = spark.sparkContext
    val metrics = new QueryMetrics
    val finals = new java.util.concurrent.ConcurrentSkipListMap[Integer, (String, Int)]
    val finalStages = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          val last = js.stageInfos.maxBy(_.stageId)
          finals.put(js.jobId, (last.name, last.numTasks))
        }
    }
    sc.addSparkListener(metrics)
    sc.addSparkListener(finalStages)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val out =
      try body
      finally {
        sc.clearJobGroup()
        assert(GraftListenerDrain.drain(sc))
        sc.removeSparkListener(metrics)
        sc.removeSparkListener(finalStages)
      }
    (out, metrics(group), finals.values.asScala.toSeq)
  }

  test("a tree of <= DirsPerTask dirs lists in one job over min(roots, P) tasks") {
    // ten directories on four levels: the root; a..f; a/x and b/x; a/x/y (empty)
    val root = tmpDir("levels")
    ('a' to 'f').foreach { c =>
      Files.write(Files.createDirectories(root.resolve(c.toString)).resolve("f"), Array[Byte](1))
    }
    Files.createDirectories(root.resolve("a/x/y"))
    Files.createDirectories(root.resolve("b/x"))
    assert(Enumerate.DirsPerTask >= 10)
    val (listed, totals, finals) = jobsIn("walk-one-root")(Enumerate.listTree(spark, root.toString))
    assert(totals.jobs == 1 && finals.map(_._2) == Seq(1), finals)
    assert(listed.count() == 1 + 6 + 6 + 3)
    // a..f as six roots: still one job, its tasks capped by defaultParallelism
    val dp = spark.sparkContext.defaultParallelism
    val subs = ('a' to 'f').map(c => root.resolve(c.toString).toString)
    val (walk, totals6, finals6) = jobsIn("walk-six-roots")(Enumerate.listRoots(spark, subs, owners = false))
    assert(totals6.jobs == 1 && finals6.map(_._2) == Seq(math.min(6, dp)), finals6)
    assert(walk.count() == 6 + 6 + 3)
  }

  test("an -update -delete plan over two -f roots walks them and the destination together") {
    val base = tmpDir("two-roots")
    // `levels` directory levels: a file on each, a side dir on all but the last
    def chain(name: String, levels: Int): Path = {
      val root = base.resolve(name)
      var cur = root
      (1 to levels).foreach { i =>
        Files.createDirectories(cur)
        Files.write(cur.resolve(s"f$i"), Array.fill[Byte](i)(7))
        if (i < levels) Files.createDirectories(cur.resolve("side"))
        cur = cur.resolve(s"d$i")
      }
      root
    }
    val s1 = chain("s1", 3)
    val s2 = chain("s2", 2)
    val dst = base.resolve("out")
    val lst = base.resolve("roots.txt")
    Files.write(lst, s"chkfile://$s1\nchkfile://$s2\n".getBytes(StandardCharsets.UTF_8))
    def cfg(flags: String*) = Args.parse(flags ++ Seq("-pt", "-f", lst.toString, s"chkfile://$dst")).toOption.get
    val first = cfg()
    Executor.execute(spark, Planner.plan(spark, first), first)
    val before = ChecksummedLocalFs.listStatusCalls
    val (plan, _, finals) = jobsIn("walk-roots") {
      val p = Planner.plan(spark, cfg("-update", "-delete"))
      p.deletes.collect() // forces the lazy delete set
      p
    }
    // the destination nests s1 one level down: its 4 levels list in one
    // round, where one walk per tree would take 3 + 2 + 4
    assert(finals.count(_._1.contains("Enumerate.scala")) == 1, finals)
    val after = ChecksummedLocalFs.listStatusCalls
    val dirs = Seq(s1, s2, dst).flatMap(r => Files.walk(r).iterator().asScala.filter(Files.isDirectory(_)))
    val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0)) }.filter(_._2 != 0)
    assert(delta == dirs.map(_.toString -> 1).toMap)
    assert(plan.tasks.filter(!_.src.isDir).isEmpty() && plan.deletes.isEmpty())
  }

  test("the walk matches a java.nio walk and lists each directory once, above and below DirsPerTask") {
    val b = Enumerate.DirsPerTask
    val base = tmpDir("walk-eq")
    val chk = new HPath("chkfile:///").getFileSystem(Fs.conf())
    // `dirs` directories under `root`, each hung under a random earlier one
    // (a chain when `chain`), each holding 0-2 files of 0-4 bytes
    def tree(root: Path, dirs: Int, seed: Int, chain: Boolean = false): Path = {
      val rnd = new Random(seed)
      val made = scala.collection.mutable.ArrayBuffer(Files.createDirectories(root))
      while (made.length < dirs) {
        val parent = if (chain) made.last else made(rnd.nextInt(made.length))
        made += Files.createDirectories(parent.resolve(s"d${made.length}"))
      }
      for (d <- made; k <- 0 until rnd.nextInt(3)) Files.write(d.resolve(s"f$k"), Array.fill[Byte](rnd.nextInt(5))(1))
      root
    }
    def entries(root: Path): Seq[Path] = Files.walk(root).iterator().asScala.toSeq
    // what the walk should report for `p`: ChecksummedLocalFs's status,
    // without owners; atime is left out because listing a directory may
    // move it
    def nioMeta(p: Path): FileMeta = {
      val dir = Files.isDirectory(p)
      FileMeta(chk.makeQualified(new HPath(p.toString)).toString, if (dir) 0L else Files.size(p), dir,
        1, chk.getDefaultBlockSize(new HPath(p.toString)), Files.getLastModifiedTime(p).toMillis, 0L, "", "", "")
    }
    def bag[T](xs: Seq[T]): Map[T, Int] = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    val big = tree(base.resolve("big"), 2 * b + 7, seed = 3)
    val cases = Seq(
      "small" -> Seq(tree(base.resolve("small"), b / 2, seed = 1)),
      "at-budget" -> Seq(tree(base.resolve("at"), b, seed = 2)),
      "over-budget" -> Seq(big),
      "chain" -> Seq(tree(base.resolve("chain"), b + 9, seed = 4, chain = true)),
      "nested" -> Seq(big, big.resolve("d1")),
      "many-roots" -> (1 to 6).map(k => tree(base.resolve(s"r$k"), k * b / 3, seed = 10 + k)),
    )
    for ((label, roots) <- cases) {
      val before = ChecksummedLocalFs.listStatusCalls
      val (walk, totals, _) = jobsIn(s"walk-eq-$label")(
        Enumerate.listRoots(spark, roots.map(r => s"chkfile://$r"), owners = false))
      val calls = ChecksummedLocalFs.listStatusCalls.map { case (k, v) => k -> (v - before.getOrElse(k, 0)) }
        .filter(_._2 != 0)
      val got = walk.collect().toSeq.map { case (i, m) => i -> m.copy(atime = 0L) }
      val want = roots.zipWithIndex.flatMap { case (r, i) => entries(r).map(p => i -> nioMeta(p)) }
      assert(bag(got) == bag(want), label)
      // each directory once per root it lies under
      assert(calls == bag(roots.flatMap(entries(_).filter(Files.isDirectory(_)).map(_.toString))), label)
      val dirs = roots.map(entries(_).count(Files.isDirectory(_)))
      val depth = roots.flatMap(r => entries(r).filter(Files.isDirectory(_)).map(_.getNameCount - r.getNameCount)).max
      assert(totals.jobs <= depth + 1, s"$label: ${totals.jobs} rounds at depth $depth")
      if (roots.length == 1) assert((totals.jobs == 1) == (dirs.head <= b), s"$label: ${totals.jobs} rounds, $dirs dirs")
    }
  }

  test("overlapping roots plan like separate per-root walks") {
    // relDst -> meta of one standalone listTree of `root`
    def rels(root: Path): Map[String, FileMeta] = {
      val q = qualify(root.toString)
      Enumerate.listTree(spark, root.toString).collect()
        .flatMap(m => PathUtils.makeRelative(q, m.path).filter(_ != ".").map(_ -> m)).toMap
    }
    val src = tmpDir("nest")
    val mt = java.nio.file.attribute.FileTime.fromMillis(1600000000000L)
    def put(rel: String, body: String): Unit = {
      val p = src.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(p, mt)
    }
    put("a.txt", "aaa"); put("sub/b.txt", "bb"); put("mirror/a.txt", "aaa"); put("mirror/extra.txt", "x")
    val sub = src.resolve("sub")
    val mirror = src.resolve("mirror")

    // the destination nested under the source
    val plan = Planner.plan(spark, Args.parse(Seq("-update", "-delete", src.toString, mirror.toString)).toOption.get)
    val s = rels(src)
    val d = rels(mirror)
    val wantTasks = s.collect {
      case (r, m) if m.isDir || !d.get(r).exists(x => x.length == m.length && x.mtime == m.mtime) => r
    }.toSet
    val keep = s.keySet.flatMap(r => r.split('/').inits.filter(_.nonEmpty).map(_.mkString("/")))
    val doomed = d.keySet -- keep
    val wantDeletes = doomed.filterNot(r => r.contains('/') && doomed(r.take(r.lastIndexOf('/'))))
    assert(wantTasks == Set("sub", "sub/b.txt", "mirror", "mirror/a.txt", "mirror/extra.txt"))
    assert(wantDeletes == Set("extra.txt"))
    assert(plan.tasks.collect().map(_.relDst).toSet == wantTasks)
    assert(plan.deletes.collect().toSet == wantDeletes)

    // a source nested under another source: each nests under its basename
    val lists = tmpDir("nest-lists")
    val nested = lists.resolve("nested.txt")
    Files.write(nested, s"$src\n$sub\n".getBytes(StandardCharsets.UTF_8))
    val planN = Planner.plan(spark, Args.parse(Seq("-f", nested.toString, lists.resolve("out").toString)).toOption.get)
    val bn = src.getFileName.toString
    assert(planN.tasks.collect().map(_.relDst).toSet ==
      s.keySet.map(r => s"$bn/$r") ++ rels(sub).keySet.map(r => s"sub/$r"))

    // the same root twice: both nest under one basename
    val twice = lists.resolve("twice.txt")
    Files.write(twice, s"$src\n$src\n".getBytes(StandardCharsets.UTF_8))
    assert(graft.cli.Main.run(Array("-f", twice.toString, lists.resolve("out2").toString), spark) == -2)
  }

  test("a missing source root exits -3 and creates no destination") {
    val base = tmpDir("missing")
    val missing = base.resolve("no-such-src").toString
    val good = mkTree(base.resolve("src"))
    val lst = base.resolve("roots.txt")
    Files.write(lst, s"$good\n$missing\n".getBytes(StandardCharsets.UTF_8))
    val dst = base.resolve("out")
    assert(graft.cli.Main.run(Array(missing, dst.toString), spark) == -3)
    assert(graft.cli.Main.run(Array("-update", "-delete", "-pt", missing, dst.toString), spark) == -3)
    assert(graft.cli.Main.run(Array("-f", lst.toString, dst.toString), spark) == -3)
    assert(!Files.exists(dst))
  }

  test("each CLI copy releases the RDDs it pinned, and only those") {
    Session.sweep(spark)
    val sc = spark.sparkContext
    val mine = sc.parallelize(1 to 10).persist()
    mine.count()
    val pinned = sc.getPersistentRDDs.keySet
    assert(pinned == Set(mine.id))
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    Console.withOut(new java.io.ByteArrayOutputStream()) {
      assert(graft.cli.Main.run(Array("-pt", src.toString, dst.toString), spark) == 0)
      Files.write(src.resolve("a.txt"), "changed".getBytes(StandardCharsets.UTF_8))
      assert(graft.cli.Main.run(Array("-update", "-delete", "-pt", src.toString, dst.toString), spark) == 0)
    }
    assert(fileBytes(dst.resolve("a.txt")).toSeq == "changed".getBytes(StandardCharsets.UTF_8).toSeq)
    assert(sc.getPersistentRDDs.keySet == pinned)
    mine.unpersist()
  }

  /** A Dataset-join planner, kept as the oracle the co-walk is compared
    * against: the list-only walk and its source manifest,
    * then a groupBy duplicate check, a left-join update diff and a
    * left-anti-join delete sync with a parent-membership anti-join. */
  private object JoinPlanner {
    import org.apache.spark.sql.{DataFrame, Dataset}
    import org.apache.spark.sql.functions._
    import spark.implicits._

    /** (relDst, source path) of every task and the delete set, or None for
      * a duplicate destination. */
    def plan(cfg: CopyConfig): Option[(Set[(String, String)], Set[String])] = {
      val roots = cfg.srcs ++ cfg.fileList.toSeq.flatMap(f => Enumerate.fileList(spark, f).collect())
      val dstPath = new HPath(cfg.dst)
      val withDst = (cfg.update || cfg.delete) && dstPath.getFileSystem(Fs.conf()).exists(dstPath)
      val walk = spark.createDataset(
        Enumerate.listRoots(spark, if (withDst) roots :+ cfg.dst else roots, owners = false))
      val all = spark.createDataset(walk.rdd.flatMap(sourceTask(roots, cfg)))
      val limited = if (cfg.update) all else Planner.applyLimits(all, cfg.fileLimit, cfg.sizeLimit)
      if (duplicated(limited)) None
      else {
        val dst = Option.when(withDst)(listDestination(walk, roots.length, cfg.dst))
        val diffed = dst match {
          case Some(d) if cfg.update => updateDiff(limited, d, cfg.dst, cfg.skipTs, cfg.skipCrc)
          case _ => limited
        }
        val deletes = dst match {
          case Some(d) if cfg.delete => deleteTargets(all, d).collect().toSet
          case _ => Set.empty[String]
        }
        Some((diffed.collect().map(t => (t.relDst, t.src.path)).toSet, deletes))
      }
    }

    /** The CopyTask of one walk entry under root i < roots.length, keyed by
      * its dest-relative path; None for the destination's entries, a
      * directory root itself and what `-regexPath` does not select. With
      * multiple roots each root nests under its basename. */
    private def sourceTask(roots: Seq[String], cfg: CopyConfig): ((Int, FileMeta)) => Option[CopyTask] = {
      val qRoots = roots.map(qualify).toArray
      val baseNames = qRoots.map(_.split('/').filter(_.nonEmpty).lastOption.getOrElse(""))
      val nest = roots.length > 1
      val selected: (FileMeta, String) => Boolean = cfg.depthRegexes match {
        case Nil => (_, _) => true
        case rx => Enumerate.depthRegexFiles(rx)
      }
      { case (i, m) =>
        if (i >= qRoots.length) None
        else PathUtils.makeRelative(qRoots(i), m.path).filter(selected(m, _)).flatMap { rel =>
          if (rel == ".") {
            if (m.isDir) None else Some(CopyTask(m, baseNames(i)))
          } else Some(CopyTask(m, if (nest) s"${baseNames(i)}/$rel" else rel))
        }
      }
    }

    private def listDestination(walk: Dataset[(Int, FileMeta)], idx: Int, dstRoot: String): DataFrame = {
      val qDstRoot = qualify(dstRoot)
      walk.flatMap { case (i, m) =>
        if (i != idx) None
        else PathUtils.makeRelative(qDstRoot, m.path).filter(_ != ".").map(r => (r, m.length, m.mtime, m.isDir))
      }.toDF("relDst", "dLen", "dMtime", "dIsDir")
    }

    private def updateDiff(
        tasks: Dataset[CopyTask], dst: DataFrame, dstRoot: String, skipTs: Boolean, skipCrc: Boolean,
    ): Dataset[CopyTask] = {
      val joined = tasks.join(dst, Seq("relDst"), "left").localCheckpoint()
      val metaDiff = joined
        .filter(
          col("src.isDir") || col("dLen").isNull ||
            col("src.length") =!= col("dLen") ||
            (if (skipTs) lit(false) else col("src.mtime") =!= col("dMtime")))
        .drop("dLen", "dMtime", "dIsDir")
        .as[CopyTask]
      if (skipCrc) metaDiff
      else {
        val metaSame = joined
          .filter(
            !col("src.isDir") && col("dLen").isNotNull &&
              col("src.length") === col("dLen") &&
              (if (skipTs) lit(true) else col("src.mtime") === col("dMtime")))
          .drop("dLen", "dMtime", "dIsDir")
          .as[CopyTask]
        val crcDiff = metaSame.mapPartitions { it =>
          val c = Fs.conf()
          it.filter { t =>
            val sp = new HPath(t.src.path)
            val dp = if (t.relDst == ".") new HPath(dstRoot) else new HPath(dstRoot, t.relDst)
            val sc = sp.getFileSystem(c).getFileChecksum(sp)
            val dc = dp.getFileSystem(c).getFileChecksum(dp)
            sc != null && dc != null && sc != dc
          }
        }
        metaDiff.unionByName(crcDiff)
      }
    }

    private def duplicated(tasks: Dataset[CopyTask]): Boolean =
      tasks.groupBy(col("relDst")).count().filter(col("count") > 1).limit(1).collect().nonEmpty

    private def deleteTargets(tasks: Dataset[CopyTask], dst: DataFrame): Dataset[String] = {
      val keep = tasks
        .flatMap { t =>
          val segs = t.relDst.split('/')
          (1 to segs.length).map(i => segs.take(i).mkString("/"))
        }
        .distinct()
        .toDF("relDst")
      val doomed = dst.select(col("relDst")).join(keep, Seq("relDst"), "left_anti")
      val withParent = doomed.withColumn(
        "parent",
        when(col("relDst").contains("/"), regexp_replace(col("relDst"), "/[^/]*$", ""))
          .otherwise(lit(null)))
      withParent
        .join(doomed.select(col("relDst").as("parent")), Seq("parent"), "left_anti")
        .select(col("relDst")).as[String]
    }
  }

  test("the co-walk plans what the Dataset-join planner planned, across tasks and rounds") {
    import java.nio.file.attribute.FileTime
    def chk(p: Path): String = "chkfile://" + p
    /** The plan of `c` as (relDst, source path) tasks and deletes, or None
      * for a duplicate destination; its walk rounds; and whether the
      * post-walk job resolved a pending guard. */
    def planned(c: CopyConfig): (Option[(Set[(String, String)], Set[String])], Int, Boolean) = {
      val (got, _, finals) = jobsIn(s"cowalk-${System.nanoTime()}") {
        try {
          val p = Planner.plan(spark, c)
          val (t, d) = (p.tasks.collect().map(t => (t.relDst, t.src.path)).toSet, p.deletes.collect().toSet)
          assert(p.totals.deletes == d.size && p.totals.files == p.tasks.filter(!_.src.isDir).count())
          Some((t, d))
        } catch { case _: DuplicationException => None }
      }
      (got, finals.count(_._1.startsWith("runJob at Enumerate.scala")),
        finals.exists(_._1.startsWith("aggregate at Planner.scala")))
    }
    val flagSets = Seq(
      Seq("-update", "-delete"),
      Seq("-update", "-delete", "-skipcrccheck"),
      Seq("-update", "-skiptscheck"),
      Seq("-overwrite", "-delete", "-filelimit", "6"),
      Seq("-update", "-delete", "-skiptscheck", "-skipcrccheck"),
    )
    val names = Vector("a", "b", "c", "log-1", "log-2")
    var (updateFileTasks, crcTasks, deletes) = (0, 0, 0)
    // plans without a doomed path and plans with one
    var (undoomed, doomed) = (0, 0)
    var resolvedRandom = 0
    for (seed <- 1 to 12) {
      val rnd = new Random(seed)
      val base = tmpDir(s"keyed-$seed")
      val src = base.resolve("src")
      val mt = 1600000000000L
      def put(p: Path, n: Int, fill: Byte, mtime: Long): Unit = {
        Files.createDirectories(p.getParent)
        Files.write(p, Array.fill[Byte](n)(fill))
        Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
      }
      // nested dirs and files; a name taken by the other type is skipped
      for (_ <- 1 to 30) {
        val rel = Seq.fill(1 + rnd.nextInt(3))(names(rnd.nextInt(names.length))).mkString("/")
        try if (!Files.exists(src.resolve(rel))) put(src.resolve(rel), rnd.nextInt(40), 1, mt)
        catch { case _: java.io.IOException => }
      }
      Files.createDirectories(src.resolve("e/empty"))
      val lists = base.resolve("lists")
      Files.createDirectories(lists)
      def list(name: String, entries: Seq[Path]): String = {
        val f = lists.resolve(name)
        Files.write(f, entries.map(chk).mkString("\n").getBytes(StandardCharsets.UTF_8))
        f.toString
      }
      val srcDirs = Files.list(src).iterator().asScala.filter(Files.isDirectory(_)).toVector.sortBy(_.toString)
      val srcFiles = Files.walk(src).iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
      // the selection: one root, two roots, overlapping roots, a file-only
      // manifest through -regexPath or -f, or a duplicate (a root twice)
      val selection: Seq[String] = seed % 6 match {
        case 0 => Seq(chk(src))
        case 1 => srcDirs.take(2).map(chk)
        case 2 => Seq("-f", list("overlap.txt", src +: srcDirs.take(1)))
        case 3 => Seq("-regexPath", chk(src), "[a-c]/log-.*")
        case 4 => // every root nests under its basename: keep them distinct
          val dir = srcDirs.takeRight(1)
          val files = srcFiles.filterNot(f => dir.exists(_.getFileName == f.getFileName))
            .distinctBy(_.getFileName).take(4)
          Seq("-f", list("files.txt", files ++ dir))
        case _ => Seq("-f", list("twice.txt", Seq(src, src)))
      }
      val dst = base.resolve("dst")
      def cfg(flags: Seq[String]) = Args.parse(flags ++ selection :+ chk(dst)).toOption.get
      // the mirror: a copy of the selection, or of the whole source where
      // the selection is the duplicate one
      val first = if (seed % 6 != 5) cfg(Seq("-pt")) else cfg(Nil).copy(srcs = Seq(chk(src)), fileList = None)
      Executor.execute(spark, Planner.plan(spark, first), first)
      // a source directory that is a file at the destination
      srcDirs.headOption.map(d => dst.resolve(src.relativize(d).toString)).filter(Files.isDirectory(_)).foreach { d =>
        Files.walk(d).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
        put(d, 5, 1, mt)
      }
      // destination drift: length, mtime and same-length content changes,
      // source-only files, file→dir flips, destination-only subtrees; the
      // first non-empty file changes content only, which only the CRC
      // compare sees
      val dstFiles = Files.walk(dst).iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
      val crcOnly = dstFiles.find(Files.size(_) > 0)
      for (f <- dstFiles) {
        val m = Files.getLastModifiedTime(f).toMillis
        val n = Files.size(f).toInt
        (if (crcOnly.contains(f)) 2 else rnd.nextInt(8)) match {
          case 0 => put(f, n + 3, 1, m)
          case 1 => put(f, n, 1, m + 5000)
          case 2 => put(f, n, 9, m)
          case 3 => Files.delete(f)
          case 4 => Files.delete(f); put(f.resolve("inner"), 2, 1, m)
          case _ =>
        }
      }
      put(dst.resolve("stale/deep/x"), 1, 1, mt)
      put(dst.resolve(s"extra-$seed"), 1, 1, mt)
      val flags = flagSets(seed % flagSets.length)
      val c = cfg(flags)
      val clue = s"seed=$seed flags=$flags selection=$selection"
      val want = JoinPlanner.plan(c)
      val (got, _, resolved) = planned(c)
      assert(got == want, clue)
      // guards: source directories that are no task (under -regexPath, or
      // nested roots) over a mirrored destination; the post-walk job runs
      // exactly when there are some
      val nested = selection.head == "-f" || seed % 6 == 1
      assert(resolved == (c.delete && (c.depthRegexes.nonEmpty || nested) && got.nonEmpty), clue)
      if (resolved) resolvedRandom += 1
      if (seed % 6 == 5) assert(got.isEmpty, clue)
      got.foreach { case (t, d) =>
        if (c.update) updateFileTasks += t.count { case (_, p) => Files.isRegularFile(Paths.get(new HPath(p).toUri.getPath)) }
        deletes += d.size
        if (d.isEmpty) undoomed += 1 else doomed += 1
        if (c.update && !c.skipCrc) crcTasks += crcOnly.count(f => t.exists(_._1 == dst.relativize(f).toString))
      }
    }
    // the drift reached the diff, its CRC compare and the delete sync
    assert(updateFileTasks > 0 && crcTasks > 0 && deletes > 0, (updateFileTasks, crcTasks, deletes))
    assert(undoomed > 0 && doomed > 0, (undoomed, doomed))
    assert(resolvedRandom > 0)
    info(s"$updateFileTasks file tasks under -update ($crcTasks found by CRC), $deletes deletes; " +
      s"$undoomed plans without a doomed path, $doomed with")

    // across task and round boundaries: each case plans, drifts its
    // mirror, then compares a re-plan with the oracle; the -regexPath case
    // and the nested roots under -delete have guards, the deep tree none
    val b = Enumerate.DirsPerTask
    val mt = 1600000000000L
    def put(p: Path, n: Int): Unit = {
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](n)(1))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mt))
    }
    def chain(root: Path, prefix: String, n: Int): Path =
      (1 to n).foldLeft(root)((p, i) => Files.createDirectories(p.resolve(s"$prefix$i")))
    def sync(flags: Seq[String], selection: Seq[String], dst: Path) = {
      val c = Args.parse(flags ++ selection :+ chk(dst)).toOption.get
      Executor.execute(spark, Planner.plan(spark, c), c)
    }
    case class Case(label: String, selection: Seq[String], flags: Seq[Seq[String]], minRounds: Int, resolves: Boolean)
    val cases = {
      val base = tmpDir("cowalk-cases")
      // deep: a chain of b + 10 directories, each with a file, and a side
      // directory per level: the walk takes two rounds
      val deep = base.resolve("deep")
      var cur = deep
      for (i <- 1 to b + 10) {
        put(cur.resolve(s"f$i"), i % 7)
        Files.createDirectories(cur.resolve("side"))
        cur = cur.resolve(s"d$i")
      }
      // regex: big/d1/.../d70/f.txt is the one selected file, other/e1/...
      // /e70 holds none; both chains span rounds below non-task directories
      val rx = base.resolve("rx")
      put(chain(rx.resolve("big"), "d", 70).resolve("f.txt"), 3)
      put(rx.resolve("big/other.txt"), 2)
      put(chain(rx.resolve("other"), "e", 70).resolve("x.txt"), 1)
      // two roots sharing the basename n, with distinct children
      for ((side, names) <- Seq("x" -> Seq("a", "s1/b", "s1/c"), "y" -> Seq("d", "s2/e", "s2/g")); f <- names)
        put(base.resolve(s"$side/n/$f"), 5)
      val lists = base.resolve("lists")
      Files.createDirectories(lists)
      Files.write(lists.resolve("n.txt"),
        Seq("x", "y").map(r => chk(base.resolve(s"$r/n"))).mkString("\n").getBytes(StandardCharsets.UTF_8))
      Seq(
        Case("deep", Seq(chk(deep)),
          Seq(Seq("-update", "-delete"), Seq("-overwrite", "-delete", "-filelimit", "20")), 2, resolves = false),
        Case("regex-span", Seq("-regexPath", chk(rx), "big/d1"), Seq(Seq("-update", "-delete")), 2, resolves = true),
        Case("shared-basename", Seq("-f", lists.resolve("n.txt").toString),
          Seq(Seq("-update", "-delete"), Seq("-overwrite", "-delete", "-filelimit", "2")), 1, resolves = true),
      )
    }
    val resolvedIn = scala.collection.mutable.Set.empty[String]
    for (k <- cases; flags <- k.flags) {
      val dst = tmpDir(s"cowalk-${k.label}")
      sync(Seq("-pt"), k.selection, dst)
      // drift: a changed file, a removed file and a destination-only subtree
      // in the deepest destination directory; the regex case also mirrors
      // its unselected chain, which nothing keeps
      val dstFiles = Files.walk(dst).iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
      dstFiles.headOption.foreach(f => put(f, 9))
      dstFiles.drop(1).headOption.foreach(Files.delete(_))
      val deepest = Files.walk(dst).iterator().asScala.filter(Files.isDirectory(_)).maxBy(_.getNameCount)
      put(deepest.resolve("stale/x"), 1)
      if (k.label == "regex-span") {
        put(chain(dst.resolve("other"), "e", 70).resolve("y"), 1)
        put(dst.resolve("big/d1/d2/stale.txt"), 1)
      }
      val c = Args.parse(flags ++ k.selection :+ chk(dst)).toOption.get
      val clue = s"${k.label} $flags"
      val want = JoinPlanner.plan(c)
      val (got, rounds, resolved) = planned(c)
      assert(got == want, clue)
      assert(got.exists(_._2.nonEmpty), clue)
      assert(rounds >= k.minRounds, s"$clue: $rounds rounds")
      if (resolved) resolvedIn += k.label
      assert(resolved == k.resolves, clue)
    }
    assert(resolvedIn == Set("regex-span", "shared-basename"))
  }

  private def quietly[T](body: => T): (T, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val r = Console.withOut(out)(body)
    (r, out.toString(StandardCharsets.UTF_8))
  }

  test("a no-op -update -delete -pt sync runs at most 2 Spark jobs and 2 stages") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    quietly(graft.cli.Main.run(Array("-pt", src.toString, dst.toString), spark))
    val ((rc, report), totals, finals) = jobsIn("noop-sync") {
      quietly(graft.cli.Main.run(Array("-update", "-delete", "-pt", src.toString, dst.toString), spark))
    }
    assert(rc == 0 && report.contains("COPY=0 "), report)
    // one walk round, which plans as it lists (both trees are under
    // DirsPerTask directories), and the executor's copy pass over the
    // plan's own partitions: one stage each, no shuffle
    assert(totals.jobs <= 2, finals)
    assert(totals.stages <= 2, (totals, finals))
  }

  test("-m bounds the copy pass's tasks, with bytes to pack and without") {
    // P + 2 directories at local[4], one of them holding a one-byte file
    val src = tmpDir("m-src")
    (1 to 6).foreach(i => Files.createDirectories(src.resolve(s"d$i")))
    Files.write(src.resolve("d1/f"), Array[Byte](1))
    val dst = tmpDir("m-dst").resolve("out")
    // the copy pass's final-stage tasks and the partitions that copied a task
    def copyPass(copied: Int, flags: String*): (Int, Set[Int]) = {
      PartitionsCopyFunction.seen.clear()
      val argv = flags ++ Seq("-pt", "-mapper", "graft.PartitionsCopyFunction", src.toString, dst.toString)
      val ((rc, report), _, finals) = jobsIn(s"m ${flags.mkString(" ")}")(quietly(graft.cli.Main.run(argv.toArray, spark)))
      assert(rc == 0 && report.contains(s"COPY=$copied "), report)
      val pass = finals.filter(_._1.startsWith("runJob at Executor.scala"))
      assert(pass.length == 1, finals)
      (pass.head._2, PartitionsCopyFunction.seen.asScala.toSet)
    }
    // a plan with bytes: the packer's buckets, one per partition
    assert(copyPass(1, "-m", "1")._1 == 1)
    // a no-op sync's plan has no bytes: directories only
    assert(copyPass(0, "-update", "-delete", "-m", "1")._1 == 1)
    val (tasks, used) = copyPass(0, "-update", "-delete")
    assert(tasks > 1 && used.size > 1, (tasks, used))
  }

  test("delete sync lists no doomed subtree and runs no job beyond the walk's") {
    val base = tmpDir("suppress")
    val (src, dst) = (base.resolve("src"), base.resolve("dst"))
    Files.createDirectories(src.resolve("keep"))
    Files.write(src.resolve("keep/a"), Array[Byte](1))
    runCopy(Seq("-pt"), src, dst)
    // the doomed subtree gone/sub under the doomed directory gone, a
    // sibling of the kept directory keep, and a doomed file inside keep
    Files.createDirectories(dst.resolve("gone/sub"))
    Files.write(dst.resolve("gone/sub/x"), Array[Byte](1))
    Files.write(dst.resolve("gone/y"), Array[Byte](1))
    Files.write(dst.resolve("keep/stale"), Array[Byte](1))
    val cfg = Args.parse(Seq("-update", "-delete", "-pt", src.toString, s"chkfile://$dst")).toOption.get
    val before = ChecksummedLocalFs.listStatusCalls
    val (p, _, finals) = jobsIn("suppress")(Planner.plan(spark, cfg))
    val listed = ChecksummedLocalFs.listStatusCalls.collect { case (k, v) if v != before.getOrElse(k, 0) => k }.toSet
    val (tasks, deletes) = (p.tasks.collect().map(_.relDst).toSet, p.deletes.collect().toSet)
    assert(tasks == Set("keep") && deletes == Set("gone", "keep/stale"))
    assert(p.totals.deletes == 2)
    assert(JoinPlanner.plan(cfg).map { case (t, d) => (t.map(_._1), d) }.contains((tasks, deletes)))
    // every plan job is a walk round
    assert(finals.nonEmpty && finals.forall(_._1.startsWith("runJob at Enumerate.scala")), finals)
    // the destination's kept directories are listed, the doomed ones never
    assert(listed == Set(dst.toString, dst.resolve("keep").toString), listed)
  }

  test("the root level is diffed in walk tasks, one per shard of about ShardEntries entries") {
    import java.nio.file.attribute.FileTime
    val base = tmpDir("flat-root")
    val (src, dst) = (base.resolve("src"), base.resolve("dst"))
    val n = Planner.ShardEntries + 1
    for (d <- Seq(src, dst)) {
      Files.createDirectories(d)
      (1 to n).foreach { i =>
        val f = Files.write(d.resolve(s"f$i"), Array[Byte](1))
        Files.setLastModifiedTime(f, FileTime.fromMillis(1600000000000L))
      }
    }
    val cfg = Args.parse(Seq("-update", "-delete", s"chkfile://$src", s"chkfile://$dst")).toOption.get
    val before = ChecksummedLocalFs.checksumCalls
    val (p, _, finals) = jobsIn("flat-root")(Planner.plan(spark, cfg))
    val calls = ChecksummedLocalFs.checksumCalls.map { case (k, v) => k -> (v - before.getOrElse(k, 0)) }.filter(_._2 > 0)
    assert(p.totals == graft.plan.CopyPlan.Totals(0, 0, 0))
    // every metadata-equal pair is checksummed, by walk tasks only
    assert(calls.values.sum == 2 * n, calls)
    assert(calls.keySet.forall(_.startsWith("Executor task launch worker")), calls.keySet)
    // n names on each side are 2n entries, three shards: one round of
    // three tasks, one per shard
    assert(finals.map(_._2) == Seq(3), finals)
  }

  test("Fs.conf hands out isolated copies of one raw-local, uncached template") {
    val a = Fs.conf()
    a.set("graft.fs.probe", "a")
    assert(Fs.template.get("graft.fs.probe") == null)
    val b = Fs.conf()
    assert(b.get("graft.fs.probe") == null)
    assert(b.get("fs.file.impl") == classOf[RawLocalFileSystem].getName)
    assert(b.getBoolean("fs.file.impl.disable.cache", false))
    assert(new HPath("file:///").getFileSystem(b).getClass == classOf[RawLocalFileSystem])
    // so a local copy grows no ChecksumFileSystem .crc shadow files
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    assert(runCopy(Nil, src, dst).copied == 8)
    assert(!Files.walk(dst).iterator().asScala.exists(_.getFileName.toString.endsWith(".crc")))
  }

  test("listing reads owner, group and permission only under -pu/-pg/-pp") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    def reads(args: String*): Int = {
      val before = ChecksummedLocalFs.attributeCalls.values.sum
      val (rc, report) = quietly(graft.cli.Main.run(args.toArray, spark))
      assert(rc == 0, report)
      ChecksummedLocalFs.attributeCalls.values.sum - before
    }
    val (s, d) = (s"chkfile://$src", s"chkfile://$dst")
    assert(reads("-pt", s, d) == 0)
    assert(reads("-update", "-delete", "-pt", s, d) == 0)
    assert(reads("-update", "-delete", "-pugp", s, d) > 0)
    // -rg lists its one directory for the names in it
    assert(reads("-rg", s"$s/sub1", s"$d-rg") == 0)
  }

  test("BYTESEXPECTED reports the planned file bytes") {
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    val rx = """BYTESCOPIED=(\d+) BYTESEXPECTED=(\d+)""".r.unanchored
    def bytes(flags: String*): (Long, Long) = {
      val (rc, report) = quietly(graft.cli.Main.run((flags ++ Seq(src.toString, dst.toString)).toArray, spark))
      assert(rc == 0, report)
      report match {
        case rx(copied, expected) => (copied.toLong, expected.toLong)
        case _ => fail(report)
      }
    }
    val total = treeListing(src).values.filter(_ >= 0).sum
    assert(bytes("-pt") == ((total, total)))
    Files.write(src.resolve("a.txt"), Array.fill[Byte](5000)(3))
    assert(bytes("-update", "-pt") == ((5000L, 5000L)))
  }

  test("an -update -pt copy of a changed file stats its destination once") {
    // the copy-time same-file check, the rename protocol and the -pt
    // attribute pass each made their own status call: 4 per copied file
    val src = mkTree(tmpDir("src"))
    val dst = tmpDir("dst").resolve("out")
    runCopy(Seq("-pt"), src, dst)
    Files.write(src.resolve("a.txt"), Array.fill[Byte](2000)(3))
    val cfg = Args.parse(Seq("-update", "-pt", src.toString, s"chkfile://$dst")).toOption.get
    val plan = Planner.plan(spark, cfg)
    val target = dst.resolve("a.txt").toString
    val before = ChecksummedLocalFs.statusCalls.getOrElse(target, 0)
    val stats = Executor.execute(spark, plan, cfg)
    assert(stats.copied == 1 && stats.failed == 0, stats)
    assert(ChecksummedLocalFs.statusCalls.getOrElse(target, 0) - before == 1)
    assert(fileBytes(dst.resolve("a.txt")).toSeq == Array.fill[Byte](2000)(3).toSeq)
  }

  test("a plan exported without -p executes under -pugp") {
    // the export listed no owner/permission: the copy leaves them as created
    val base = tmpDir("export-p")
    val src = mkTree(base.resolve("src"))
    val dst = base.resolve("out")
    val planDir = base.resolve("plan").toString
    assert(quietly(graft.cli.Main.run(Array("-exportOnly", "-exportPath", planDir, src.toString, dst.toString), spark))._1 == 0)
    val cfg = Args.parse(Seq("-pugp", src.toString, dst.toString)).toOption.get
    val stats = Executor.execute(spark, Planner.loadPlan(spark, planDir), cfg)
    assert(stats.copied == 8 && stats.failed == 0, stats)
    assert(treeListing(src) == treeListing(dst))
  }
}

/** A copy function that records the partition of every task it copies,
  * for the spec that checks how the copy pass spreads its tasks. */
class PartitionsCopyFunction extends Executor.CopyFunction {
  def apply(conf: org.apache.hadoop.conf.Configuration, task: CopyTask, dstRoot: String, cfg: CopyConfig,
      attempt: String): CopyResult = {
    PartitionsCopyFunction.seen.add(org.apache.spark.TaskContext.getPartitionId())
    Executor.copyOne(conf, task, dstRoot, cfg, attempt)
  }
}

object PartitionsCopyFunction {
  val seen: java.util.Set[Int] = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}
