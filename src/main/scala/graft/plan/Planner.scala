package graft.plan

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.enumerate.Enumerate
import graft.operators.PrefixSum

/** The copy planner as Dataset algebra (SURVEY.md §7 step 3).
  *
  * What the reference does with hand-rolled external sorts and merge loops
  * (DistCpUtils.java:84-223) becomes groupBy/anti-join/window plans that
  * Catalyst executes distributed:
  *   - limits        → chained per-partition skip-and-continue  (op 5)
  *   - update diff   → left join src⟕dst on relDst + predicate (op 6)
  *   - dup check     → groupBy(relDst).count > 1               (op 8)
  *   - delete sync   → dst left-anti src + ancestor suppression (op 9)
  *   - split packing → range-partitioned cumsum bucketing      (op 10)
  *
  * The destination is listed at most once per plan and that one listing
  * feeds both the update diff and the delete sync.
  */
final case class CopyPlan(
    tasks: Dataset[CopyTask],
    deletes: Dataset[String],
    dirs: Dataset[CopyTask],
) {
  /** Dry-run surface (op 19): planned file copies without executing.
    *
    * Driver-side materialization by contract (mirrors the reference's
    * in-driver manifest walk, `d/DistCPPlus.java:580-607`) — valid for
    * manifest-scale plans, so it FAILS FAST past [[CopyPlan.DryRunListCap]]
    * paths instead of silently OOMing the driver; memory is bounded by
    * collecting at most cap+1 rows. A plan too big to list belongs in
    * the parquet plan export (`-exportOnly`), not a driver Seq. */
  def sourceFilesForTransfer: Seq[String] =
    sourceFilesForTransfer(CopyPlan.DryRunListCap)

  private[graft] def sourceFilesForTransfer(cap: Int): Seq[String] = {
    val paths =
      tasks.filter(!_.src.isDir).map(_.src.path)(tasks.sparkSession.implicits.newStringEncoder)
        .limit(cap + 1).collect().toSeq
    require(
      paths.length <= cap,
      s"dry-run file list exceeds $cap entries; use the parquet plan export " +
        "(-exportOnly) for plans too large to hold on the driver")
    paths
  }
  def hasFileCopied: Boolean = tasks.filter(!_.src.isDir).limit(1).count() > 0
}

object CopyPlan {
  /** Max paths [[CopyPlan.sourceFilesForTransfer]] will hand the driver
    * (~1M paths ≈ low hundreds of MB) before failing fast with a pointer at
    * the distributed plan export. */
  val DryRunListCap: Int = 1000000
}

object Planner {

  /** Build CopyTasks for one source root: every descendant keyed by its
    * dest-relative path. With multiple roots each root nests under its
    * basename (distcp semantics). */
  private def tasksForRoot(
      spark: SparkSession,
      root: String,
      cfg: CopyConfig,
  ): Dataset[CopyTask] = {
    import spark.implicits._
    // relativize against the root's FS-qualified rendering: enumerated metas
    // carry full qualified URIs, the user-typed root may not
    val qRoot = Enumerate.qualify(root)
    val baseName = qRoot.split('/').filter(_.nonEmpty).lastOption.getOrElse("")
    val nest = cfg.srcs.length > 1
    val metas: Dataset[FileMeta] = cfg.depthRegexes match {
      case Nil => Enumerate.listTree(spark, root)
      case rx =>
        // ONE distributed filter over the tree depthRegex already walked:
        // leaf files plus every file under a matched dir, selected by
        // segment-prefix match. The former collect()-the-dirs + one
        // listTree re-walk per matched dir was an unbounded driver loop
        // re-enumerating subtrees the BFS had just listed.
        Enumerate.depthRegexFiles(spark, root, rx)
    }
    metas.flatMap { m =>
      PathUtils.makeRelative(qRoot, m.path).flatMap { rel =>
        val r = if (rel == ".") {
          if (m.isDir) None else Some(baseName) // single-file source keeps its name
        } else Some(if (nest) s"$baseName/$rel" else rel)
        r.map(CopyTask(m, _))
      }.iterator
    }
  }

  /** File/size limits with the reference's skip-and-continue admission
    * (DistCPPlus.java:675-705): walking files in traversal (relDst) order, a
    * file is SKIPPED when the admitted-file count has reached `-filelimit` OR
    * admitted bytes + its length would exceed `-sizelimit`; otherwise it is
    * admitted and the counters advance. Unlike a cumulative prefix cutoff, a
    * later smaller file is still admitted after a big one was skipped for
    * size. Directories always pass (the reference pushes them on the stack
    * unconditionally).
    *
    * Scale shape: the admission state (fileCount, byteCount) is sequential,
    * but only ACROSS partition boundaries — so the manifest is
    * range-partitioned by relDst, each partition's exit state is derived
    * from its entry state with one single-partition job (#parts tiny jobs
    * chained on the driver, which holds #parts pairs of longs), and one
    * final distributed pass replays the admission decisions locally. No
    * driver-side data loop and no single-partition window (the previous
    * `Window.orderBy` formulation funneled the whole manifest through one
    * task).
    */
  def applyLimits(tasks: Dataset[CopyTask], fileLimit: Long, sizeLimit: Long): Dataset[CopyTask] = {
    if (fileLimit == Long.MaxValue && sizeLimit == Long.MaxValue) tasks
    else {
      val spark = tasks.sparkSession
      import spark.implicits._
      val files = tasks.filter(!_.src.isDir)
      val dirs = tasks.filter(_.src.isDir)
      val parts = math.max(files.rdd.getNumPartitions, 1)
      val ranged = files.repartitionByRange(parts, col("relDst"))
        .sortWithinPartitions(col("relDst")).as[CopyTask]
        .localCheckpoint()
      val rdd = ranged.rdd
      val nParts = rdd.getNumPartitions
      val entry = new Array[(Long, Long)](nParts + 1)
      entry(0) = (0L, 0L)
      for (p <- 0 until nParts) {
        val (fc0, bc0) = entry(p)
        val out = spark.sparkContext.runJob(
          rdd,
          (it: Iterator[CopyTask]) => {
            var fc = fc0
            var bc = bc0
            it.foreach { t =>
              val len = math.max(t.src.length, 0L)
              if (!(fc == fileLimit || bc + len > sizeLimit)) { fc += 1; bc += len }
            }
            (fc, bc)
          },
          Seq(p))
        entry(p + 1) = out.head
      }
      val bEntry = spark.sparkContext.broadcast(entry)
      // mapPartitionsWithIndex on the RDD, NOT Dataset.mapPartitions +
      // TaskContext.getPartitionId: the union below merges this into a wider
      // stage whose task partition ids are OFFSET by the other side's
      // partitions, while the RDD index stays the checkpointed partition's.
      val keptRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
        var (fc, bc) = bEntry.value(pid)
        it.filter { t =>
          val len = math.max(t.src.length, 0L)
          val skip = fc == fileLimit || bc + len > sizeLimit
          if (!skip) { fc += 1; bc += len }
          !skip
        }
      }
      // materialize the admitted manifest so the intermediate ranged blocks
      // and the entry-state broadcast can be released NOW — a long-lived
      // session issuing repeated limited copies must not accumulate a pinned
      // full manifest per call (only Bench/Verify sweep persistent RDDs; the
      // copy tool has no such harness)
      val out = dirs.union(spark.createDataset(keptRdd)).localCheckpoint()
      ranged.unpersist(blocking = false)
      bEntry.destroy()
      out
    }
  }

  /** The destination tree relativized to `dstRoot` — columns (relDst,
    * dLen, dMtime, dIsDir), the root entry itself excluded — or None when
    * the destination does not exist yet. */
  private def listDestination(spark: SparkSession, dstRoot: String): Option[DataFrame] = {
    import spark.implicits._
    val root = new Path(dstRoot)
    if (!root.getFileSystem(Fs.conf()).exists(root)) None
    else {
      val qDstRoot = Enumerate.qualify(dstRoot)
      Some(Enumerate.listTree(spark, dstRoot)
        .flatMap(m => PathUtils.makeRelative(qDstRoot, m.path).filter(_ != ".").map(r => (r, m.length, m.mtime, m.isDir)))
        .toDF("relDst", "dLen", "dMtime", "dIsDir"))
    }
  }

  /** Update-diff: drop tasks whose destination is already "the same"
    * (DistCpUtils.java:239-291 predicate order: timestamp → length; checksum
    * re-checked lazily at copy time for length-equal pairs). `dst` is the
    * [[listDestination]] of `dstRoot`. */
  def updateDiff(
      tasks: Dataset[CopyTask],
      dst: DataFrame,
      dstRoot: String,
      skipTs: Boolean,
      skipCrc: Boolean,
  ): Dataset[CopyTask] = {
    val spark = tasks.sparkSession
    import spark.implicits._
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
      // CRC pass over the metadata-equal pairs (DistCpUtils.java:252-291:
      // checksum compared only when TS+length match; null/unsupported
      // checksum ⇒ same). Distributed — one getFileChecksum RPC pair per
      // surviving file inside mapPartitions, never on the driver.
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
          val sp = new Path(t.src.path)
          val dp = if (t.relDst == ".") new Path(dstRoot) else new Path(dstRoot, t.relDst)
          val sc = sp.getFileSystem(c).getFileChecksum(sp)
          val dc = dp.getFileSystem(c).getFileChecksum(dp)
          sc != null && dc != null && sc != dc // null ⇒ same ⇒ keep skipped
        }
      }
      metaDiff.unionByName(crcDiff)
    }
  }

  /** Duplicate-destination check (DistCpUtils.java:84-110): two sources
    * mapping to one relDst is a planning error (exit -2). */
  def checkDuplication(tasks: Dataset[CopyTask]): Unit = {
    val dups = tasks.groupBy(col("relDst")).count().filter(col("count") > 1).limit(1).collect()
    if (dups.nonEmpty)
      throw new DuplicationException(s"duplicate destination: ${dups.head.getString(0)}")
  }

  /** Delete-sync (DistCpUtils.java:136-223): destination paths absent from
    * the source manifest, with ancestor suppression — a left-anti join plus a
    * parent-membership anti-join (the delete set is closed under descendants,
    * so suppressing direct children of deleted dirs is sufficient).
    *
    * The keep-set is the PATH CLOSURE of the manifest (every relDst plus all
    * its ancestor prefixes), not the raw relDst column: selection modes that
    * emit file-only manifests (-regexPath, -f with file URIs) would otherwise
    * leave the parent directories of just-copied files in the doomed set, and
    * the recursive delete pass would destroy them — and their contents — on
    * the next sync run. Closure explosion is bounded by path depth and stays
    * metadata-scale. `dst` is the [[listDestination]] of the destination.
    */
  def deleteTargets(tasks: Dataset[CopyTask], dst: DataFrame): Dataset[String] = {
    val spark = tasks.sparkSession
    import spark.implicits._
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

  /** Size-weighted bucket assignment (CopyInputFormat.java:33-79): in
    * relDst order, each file weighs its length (dirs weigh 0) and lands in
    * bucket (bytes up to and including it - 1) / (total / n), clamped to
    * n-1 — when total % n != 0 the last file would otherwise open an n+1th
    * bucket that the executor's n-partition identity partitioner rejects.
    * Cuts fall on fixed byte offsets rather than the reference's greedy
    * first-fit; a bucket still holds at most target + one file, plus the
    * < n-byte total % n remainder in the clamped last one.
    * One [[graft.operators.PrefixSum.runningBefore]] pass: no task rows
    * reach the driver and no stage runs on a single partition.
    */
  def assignBuckets(tasks: Dataset[CopyTask], numBuckets: Int): Dataset[(CopyTask, Int)] = {
    val spark = tasks.sparkSession
    import spark.implicits._
    val n = math.max(numBuckets, 1)
    val parts = math.max(tasks.rdd.getNumPartitions, spark.sparkContext.defaultParallelism)
    def weight(t: CopyTask): Long = if (t.src.isDir) 0L else math.max(t.src.length, 0L)
    PrefixSum.runningBefore(tasks, parts, Seq(col("relDst")))(weight) { (t, before, total) =>
      val target = math.max(total / n, 1L)
      (t, math.min(math.max(before + weight(t) - 1, 0L) / target, n - 1L).toInt)
    }
  }

  /** Plan serialization (ref §3.3 `generateConf` / export-only: plan now,
    * execute later, possibly from another process): the three manifests
    * persist as parquet — the Spark-native analog of the reference's
    * SequenceFile staging manifests (DistCPPlus.java:577-595).
    */
  def savePlan(plan: CopyPlan, path: String): Unit = {
    plan.tasks.write.mode("overwrite").parquet(s"$path/tasks")
    plan.deletes.toDF("relDst").write.mode("overwrite").parquet(s"$path/deletes")
    plan.dirs.write.mode("overwrite").parquet(s"$path/dirs")
  }

  def loadPlan(spark: SparkSession, path: String): CopyPlan = {
    import spark.implicits._
    CopyPlan(
      tasks = spark.read.parquet(s"$path/tasks").as[CopyTask],
      deletes = spark.read.parquet(s"$path/deletes").select(col("relDst")).as[String],
      dirs = spark.read.parquet(s"$path/dirs").as[CopyTask],
    )
  }

  /** Full plan: enumerate → limits → diff → dup-check → delete set. */
  def plan(spark: SparkSession, cfg: CopyConfig): CopyPlan = {
    import spark.implicits._
    val roots = cfg.flatRegex match {
      case Some(rg) =>
        val sel = Enumerate.flatRegex(spark, rg).collect().map(_.path).toSeq
        cfg.srcs ++ sel
      case None =>
        cfg.srcs ++ cfg.fileList.toSeq.flatMap(f => Enumerate.fileList(spark, f).collect())
    }
    val effCfg = cfg.copy(srcs = roots)
    val all = roots.map(tasksForRoot(spark, _, effCfg)).reduceOption(_ union _)
      .getOrElse(spark.emptyDataset[CopyTask])
    // Under -update the reference OVERWRITES the limit-skip decision with the
    // same-file check (DistCPPlus.java:681-700: `skipfile = isSame`), so
    // -filelimit/-sizelimit are effectively ignored — reproduced here by
    // bypassing applyLimits when updating.
    val limited =
      if (cfg.update) all else applyLimits(all, cfg.fileLimit, cfg.sizeLimit)
    // dup-check BEFORE the update diff, on the full admitted manifest (the
    // reference checks the listing, DistCpUtils.java:84-110): diffing first
    // would hide a collision whenever one colliding source is currently
    // up to date at the destination — the copy then silently overwrites and
    // the two sources ping-pong the destination between runs with exit 0
    checkDuplication(limited)
    val dst =
      if (cfg.update || cfg.delete) listDestination(spark, cfg.dst) else None
    val diffed = dst match {
      case Some(d) if cfg.update => updateDiff(limited, d, cfg.dst, cfg.skipTs, cfg.skipCrc)
      case _ => limited
    }
    val deletes = dst match {
      case Some(d) if cfg.delete => deleteTargets(all, d)
      case _ => spark.emptyDataset[String]
    }
    CopyPlan(
      tasks = diffed.localCheckpoint(),
      deletes = deletes,
      dirs = all.filter(_.src.isDir),
    )
  }
}
