package graft.exec

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

import graft.core._
import graft.plan.CopyPlan

/** Distributed copy execution (SURVEY.md §2.1 ops 12-17, 21).
  *
  * Mirrors DefaultCopyFilesMapper.java:105-287: per task — dirs → mkdirs;
  * files → skip re-check, stream src→tmp in 128 KiB chunks, verify copied
  * length, delete-existing + rename tmp→dst, apply preserved attributes.
  * Unlike the reference's shared tmp path (safe only because MR speculation
  * is off, DistCPPlus.java:459-461), tmp paths here are task-attempt-scoped
  * so Spark task retries stay idempotent (SURVEY.md §7 risks).
  *
  * A plan with bytes to copy is bucketed by the size-weighted packer
  * before mapPartitions, so each partition carries ~equal bytes — the
  * reference's 256 MiB/map model (DistCPPlus.java:101,442-451) — rather
  * than ~equal file counts. A zero-byte plan (directories and empty files)
  * runs over the plan's own partitions, coalesced to the bucket count, so
  * `-m` bounds the copy pass's tasks on both paths.
  */
object Executor {

  val BufferSize = 128 * 1024 // copy.buf.size, DefaultCopyFilesMapper.java:33
  val BytesPerTask: Long = 256L * 1024 * 1024 // BYTES_PER_MAP, DistCPPlus.java:101

  /** Job counters plus per-phase wall-clock — the reference records
    * SETUP/RUN/CLEANUP durations into the job conf (DistCPPlus.java:128-131,
    * 203-229); here they ride on the stats object. setup = dest mkdirs +
    * bucket planning; run = the distributed copy + failure policy; cleanup =
    * delete-sync + dir-attribute finalize. `bytesExpected` is the planned
    * file bytes (the reference's BYTESEXPECTED counter, DistCPPlus.java:108). */
  final case class CopyStats(
      copied: Long,
      skipped: Long,
      failed: Long,
      dirs: Long,
      bytesCopied: Long,
      setupMs: Long = 0L,
      runMs: Long = 0L,
      cleanupMs: Long = 0L,
      bytesExpected: Long = 0L,
  )

  /** The user-extension point (ref op 13, `-mapper <class>`,
    * DistCPPlus.java:467-480 — "used for filtering purpose"): a replaceable
    * per-task copy function. Implementations must have a no-arg constructor
    * (instantiated by reflection on each executor) and are typically filters
    * that delegate to [[Executor.copyOne]] for tasks they keep.
    */
  trait CopyFunction extends Serializable {
    def apply(conf: Configuration, task: CopyTask, dstRoot: String, cfg: CopyConfig, attempt: String): CopyResult
  }

  final class DefaultCopyFunction extends CopyFunction {
    def apply(conf: Configuration, task: CopyTask, dstRoot: String, cfg: CopyConfig, attempt: String): CopyResult =
      copyOne(conf, task, dstRoot, cfg, attempt)
  }

  def resolveCopyFunction(cfg: CopyConfig): CopyFunction =
    cfg.mapperClass match {
      case None => new DefaultCopyFunction
      case Some(name) =>
        Class.forName(name).getDeclaredConstructor().newInstance().asInstanceOf[CopyFunction]
    }

  def copyOne(
      conf: Configuration,
      task: CopyTask,
      dstRoot: String,
      cfg: CopyConfig,
      attempt: String,
  ): CopyResult = {
    val srcPath = new Path(task.src.path)
    val dstPath = PathUtils.dstPath(dstRoot, task.relDst)
    // the attempt-scoped tmp file; lazy, as a directory task (the root
    // among them, which has no parent) writes none
    lazy val tmp = new Path(dstPath.getParent, s".graft.tmp.${dstPath.getName}.$attempt")
    val dfs = dstPath.getFileSystem(conf)
    val sfs = srcPath.getFileSystem(conf)
    try {
      if (task.src.isDir) {
        // mkdirs returns false (or throws) when the destination exists as a
        // FILE — swallowing it would report DIR success while every child
        // copy then fails confusingly under a file "directory"
        if (!dfs.mkdirs(dstPath) && !dfs.getFileStatus(dstPath).isDirectory)
          CopyResult(task.relDst, task.src.path, "FAIL", 0L,
            s"cannot create directory: $dstPath exists and is not a directory")
        else CopyResult(task.relDst, task.src.path, "DIR", 0L, "")
      } else if (!cfg.overwrite && cfg.update && sameAtCopyTime(sfs, srcPath, dfs, dstPath, task, cfg)) {
        // plan-time vs copy-time checks are intentionally redundant: files
        // change between plan and execute (SURVEY.md §2.2).
        CopyResult(task.relDst, task.src.path, "SKIP", 0L, "")
      } else {
        dfs.mkdirs(dstPath.getParent)
        var copied = 0L
        val in = sfs.open(srcPath)
        try {
          val out = dfs.create(tmp, true, BufferSize,
            if (cfg.preserve.contains(FileAttribute.Replication)) task.src.replication.toShort
            else dfs.getDefaultReplication(tmp),
            if (cfg.preserve.contains(FileAttribute.BlockSize)) task.src.blockSize
            else dfs.getDefaultBlockSize(tmp))
          try {
            val buf = new Array[Byte](BufferSize)
            var n = in.read(buf)
            while (n >= 0) {
              if (n > 0) { out.write(buf, 0, n); copied += n }
              n = in.read(buf)
            }
          } finally out.close()
        } finally in.close()
        // double length verification (DefaultCopyFilesMapper.java:166-198)
        val srcLenNow = sfs.getFileStatus(srcPath).getLen
        val tmpLen = dfs.getFileStatus(tmp).getLen
        if (copied != srcLenNow || tmpLen != srcLenNow) {
          dfs.delete(tmp, false)
          throw new IOException(s"length mismatch: copied=$copied tmp=$tmpLen src=$srcLenNow")
        }
        dfs.delete(dstPath, true) // rename protocol, DistCpUtils.java:44-57; false when absent
        if (!dfs.rename(tmp, dstPath)) throw new IOException(s"rename $tmp -> $dstPath failed")
        preserveAttrs(dfs, dstPath, task.src, cfg.preserve)
        CopyResult(task.relDst, task.src.path, "COPY", copied, "")
      }
    } catch {
      case e: Exception =>
        // tmp cleanup with bounded retry (DefaultCopyFilesMapper.java:266-282)
        var tries = 0
        while (tries < 3 && scala.util.Try(dfs.exists(tmp)).getOrElse(false)) {
          scala.util.Try(dfs.delete(tmp, false))
          tries += 1
        }
        CopyResult(task.relDst, task.src.path, "FAIL", 0L, s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** Copy-time skip re-check: stats `dst` and applies [[SameFile]] to it;
    * a missing destination is never the same. */
  def sameAtCopyTime(
      sfs: FileSystem,
      src: Path,
      dfs: FileSystem,
      dst: Path,
      task: CopyTask,
      cfg: CopyConfig,
  ): Boolean = {
    val d =
      try dfs.getFileStatus(dst)
      catch { case _: FileNotFoundException => return false }
    SameFile(task.src, d.getLen, d.getModificationTime, cfg,
      (sfs.getFileChecksum(src), dfs.getFileChecksum(dst)))
  }

  /** Apply the preserved attributes of `src` to `p`, which the copy made
    * the same type as `src`: the destination is stat'ed only for the
    * owner/group/permission compare. An empty owner, group or permission
    * was not listed (a plan made without `-pu`/`-pg`/`-pp`) and is left
    * alone. */
  def preserveAttrs(fs: FileSystem, p: Path, src: FileMeta, attrs: Set[FileAttribute]): Unit = {
    if (attrs.exists(FileAttribute.Ownership)) {
      val st = fs.getFileStatus(p)
      if (attrs.contains(FileAttribute.Permission) && src.perm.nonEmpty && st.getPermission.toString != src.perm)
        fs.setPermission(p, FsPermission.valueOf(permWithType(src.isDir, src.perm)))
      val user = Option.when(attrs.contains(FileAttribute.User) && src.owner.nonEmpty)(src.owner)
      val group = Option.when(attrs.contains(FileAttribute.Group) && src.group.nonEmpty)(src.group)
      if (user.exists(_ != st.getOwner) || group.exists(_ != st.getGroup))
        scala.util.Try(fs.setOwner(p, user.orNull, group.orNull))
    }
    if (attrs.contains(FileAttribute.Timestamp) && !src.isDir)
      fs.setTimes(p, src.mtime, src.atime) // files only: HDFS-2436, DistCPPlus.java:256-258
  }

  /** (count, bytes) per copy result status. */
  private type Tally = Map[String, (Long, Long)]

  private def add(a: Tally, status: String, n: Long, b: Long): Tally = {
    val (n0, b0) = a.getOrElse(status, (0L, 0L))
    a.updated(status, (n0 + n, b0 + b))
  }

  private def permWithType(isDir: Boolean, perm: String): String =
    (if (isDir) "d" else "-") + perm

  /** Execute a plan: one bucketed mapPartitions pass on the executors runs
    * every task (mkdirs for dirs, streamed copies for files), then
    * delete-sync and dir-attribute finalize (DistCPPlus.java:264-297). */
  def execute(spark: SparkSession, planned: CopyPlan, cfg: CopyConfig): CopyStats = {
    val tSetup0 = System.nanoTime()
    val dstRoot = cfg.dst
    val conf = Fs.conf()
    val dfs = new Path(dstRoot).getFileSystem(conf)
    dfs.mkdirs(new Path(dstRoot))

    val totals = planned.totals
    val numBuckets = {
      val derived = math.max(1L, totals.bytes / BytesPerTask).toInt
      if (cfg.maxTasks > 0) math.min(cfg.maxTasks, math.max(derived, 1))
      else math.max(derived, spark.sparkContext.defaultParallelism)
    }

    val copyFn = resolveCopyFunction(cfg)
    val partitioned =
      // a zero-byte plan (directories and empty files, as in a no-op sync)
      // has no bytes to balance: it copies over its own partitions, at most
      // numBuckets of them, without the packer's jobs or a shuffle
      if (totals.bytes == 0) planned.tasks.coalesce(numBuckets)
      else {
        import spark.implicits._
        // IDENTITY partitioner, not repartition(n, col): hash-partitioning
        // the bucket id collides distinct buckets into one task (≈1/e of
        // partitions empty at scale) and the equal-bytes-per-task packing
        // the bucketer just computed is destroyed — bucket i must BE
        // partition i
        graft.plan.Planner.assignBuckets(spark.createDataset(planned.tasks), numBuckets).rdd
          .map { case (task, b) => (b, task) }
          .partitionBy(new org.apache.spark.Partitioner {
            override def numPartitions: Int = numBuckets
            override def getPartition(key: Any): Int = key.asInstanceOf[Int]
          })
          .values
      }
    val tRun0 = System.nanoTime()
    val results = partitioned.mapPartitions { iter =>
      val c = Fs.conf()
      val attempt = Option(TaskContext.get()).map(_.taskAttemptId().toString).getOrElse("0")
      iter.map(copyFn(c, _, dstRoot, cfg, attempt))
    }
    results.localCheckpoint()

    // the copy pass's ONE job pins the results and returns every counter
    // the run reports: (count, bytes) per status, per partition
    val statusAgg: Tally = spark.sparkContext
      .runJob(results, (it: Iterator[CopyResult]) =>
        it.foldLeft(Map.empty: Tally)((a, r) => add(a, r.status, 1L, r.bytes)))
      .foldLeft(Map.empty: Tally)((a, p) => p.foldLeft(a) { case (m, (s, (n, b))) => add(m, s, n, b) })
    val nFailed = statusAgg.get("FAIL").map(_._1).getOrElse(0L)
    if (nFailed > 0) {
      results.filter(_.status == "FAIL").take(10)
        .foreach(r => System.err.println(s"FAIL ${r.relDst} : ${r.error}"))
      if (!cfg.ignoreFailures)
        // typed, not a plain IOException: the CLI maps copy failures to the
        // reference's -999, while IOExceptions map to -3 (remote FS errors)
        throw new CopyFailedException(s"$nFailed copy failures (use -i to ignore)")
    }

    val tCleanup0 = System.nanoTime()
    // delete-sync, executor-side: one recursive delete RPC per doomed path
    // inside foreachPartition (children before parents is unnecessary with
    // recursive delete + ancestor suppression, mirroring FsShell -rmr). The
    // previous collect().foreach serialized a potentially 10^8-path delete
    // set through the driver.
    if (totals.deletes > 0) planned.deletes.foreachPartition { (it: Iterator[String]) =>
      val c = Fs.conf()
      val pfs = new Path(dstRoot).getFileSystem(c)
      it.foreach(rel => pfs.delete(PathUtils.dstPath(dstRoot, rel), true))
    }

    // dir-attribute finalize pass (DistCPPlus.java:264-297): of what
    // preserveAttrs sets, directories take only owner/group/permission —
    // times are set on files, replication and block size at create — so
    // without -pu/-pg/-pp the pass (one job, two status calls per dir)
    // could change nothing
    if (cfg.preserve.exists(FileAttribute.Ownership)) {
      planned.dirs.foreachPartition { (it: Iterator[CopyTask]) =>
        val c = Fs.conf()
        val pfs = new Path(dstRoot).getFileSystem(c)
        it.foreach { t =>
          val p = PathUtils.dstPath(dstRoot, t.relDst)
          if (pfs.exists(p)) preserveAttrs(pfs, p, t.src, cfg.preserve)
        }
      }
    }
    val tEnd = System.nanoTime()

    CopyStats(
      copied = statusAgg.get("COPY").map(_._1).getOrElse(0L),
      skipped = statusAgg.get("SKIP").map(_._1).getOrElse(0L),
      failed = nFailed,
      dirs = statusAgg.get("DIR").map(_._1).getOrElse(0L),
      bytesCopied = statusAgg.get("COPY").map(_._2).getOrElse(0L),
      setupMs = (tRun0 - tSetup0) / 1000000L,
      runMs = (tCleanup0 - tRun0) / 1000000L,
      cleanupMs = (tEnd - tCleanup0) / 1000000L,
      bytesExpected = totals.bytes,
    )
  }
}
