package graft.plan

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.enumerate.Enumerate
import graft.operators.PrefixSum

/** The copy planner (SURVEY.md §7 step 3).
  *
  * What the reference does with hand-rolled external sorts and merge loops
  * (DistCpUtils.java:84-223) becomes one keyed pass over the listing walk
  * (RDD API, so its shuffle runs as ONE Spark job): every source task, every
  * destination entry and every prefix the source manifest keeps meets the
  * others under its destination-relative path, and each key decides
  *   - update diff   → task unless [[graft.core.SameFile]] holds, its
  *                     checksums fetched on the executor         (op 6)
  *   - dup check     → two or more sources on one key           (op 8)
  *   - delete sync   → destination-only and not kept, then
  *                     ancestor suppression by parent key, a
  *                     second job only when something is doomed (op 9)
  * around it:
  *   - limits        → chained per-partition skip-and-continue  (op 5)
  *   - split packing → range-partitioned cumsum bucketing      (op 10)
  *
  * Every source root and the destination are listed in ONE walk
  * ([[graft.enumerate.Enumerate.listRoots]]), which the keyed pass reads
  * once: each entry contributes its source, kept-prefix or destination
  * slots.
  *
  * A plan's two manifests are RDDs over the keyed pass's checkpointed
  * blocks, which [[graft.exec.Executor.execute]] copies from as they are.
  * A Dataset is built only at the parquet boundary ([[Planner.savePlan]],
  * [[Planner.loadPlan]]) and as the byte packer's input
  * ([[Planner.assignBuckets]]) for a plan with bytes to pack.
  */
final case class CopyPlan(
    tasks: RDD[CopyTask],
    deletes: RDD[String],
    planned: Option[CopyPlan.Totals] = None,
) {
  /** The directory tasks: directories pass limits and the diff alike. */
  def dirs: RDD[CopyTask] = tasks.filter(_.src.isDir)

  /** Planned file copies, their bytes and the deletes: the planning pass's
    * own summary, or for a plan built elsewhere (a loaded one) one job per
    * manifest. */
  lazy val totals: CopyPlan.Totals = planned.getOrElse(CopyPlan.Totals.of(tasks, deletes))

  /** Dry-run surface (op 19): planned file copies without executing.
    *
    * Driver-side materialization by contract (mirrors the reference's
    * in-driver manifest walk, `d/DistCPPlus.java:580-607`) — valid for
    * manifest-scale plans, so it FAILS FAST past [[CopyPlan.DryRunListCap]]
    * paths instead of silently OOMing the driver; memory is bounded by
    * taking at most cap+1 rows. A plan too big to list belongs in the
    * parquet plan export (`-exportOnly`), not a driver Seq. */
  def sourceFilesForTransfer: Seq[String] =
    sourceFilesForTransfer(CopyPlan.DryRunListCap)

  private[graft] def sourceFilesForTransfer(cap: Int): Seq[String] = {
    val paths = tasks.filter(!_.src.isDir).map(_.src.path).take(cap + 1).toSeq
    require(
      paths.length <= cap,
      s"dry-run file list exceeds $cap entries; use the parquet plan export " +
        "(-exportOnly) for plans too large to hold on the driver")
    paths
  }
  def hasFileCopied: Boolean = !tasks.filter(!_.src.isDir).isEmpty()
}

object CopyPlan {
  /** Max paths [[CopyPlan.sourceFilesForTransfer]] will hand the driver
    * (~1M paths ≈ low hundreds of MB) before failing fast with a pointer at
    * the distributed plan export. */
  val DryRunListCap: Int = 1000000

  /** File copies, their bytes, and delete-sync targets of a plan. */
  final case class Totals(files: Long, bytes: Long, deletes: Long)

  object Totals {
    def of(tasks: RDD[CopyTask], deletes: RDD[String]): Totals = {
      val (files, bytes) = tasks.filter(!_.src.isDir).map(t => (1L, t.src.length))
        .fold((0L, 0L)) { case ((f1, b1), (f2, b2)) => (f1 + f2, b1 + b2) }
      Totals(files, bytes, deletes.count())
    }
  }
}

object Planner {

  /** The CopyTask of one walk entry under root i < roots.length, keyed by
    * its dest-relative path; None for the destination's entries, a
    * directory root itself and what `-regexPath` does not select. With
    * multiple roots each root nests under its basename (distcp semantics). */
  private def sourceTask(roots: Seq[String], cfg: CopyConfig): ((Int, FileMeta)) => Option[CopyTask] = {
    // relativize against each root's FS-qualified rendering: enumerated
    // metas carry full qualified URIs, the user-typed root may not
    val qRoots = roots.map(Enumerate.qualify).toArray
    val baseNames = qRoots.map(_.split('/').filter(_.nonEmpty).lastOption.getOrElse(""))
    val nest = roots.length > 1
    val selected: (FileMeta, String) => Boolean = cfg.depthRegexes match {
      case Nil => (_, _) => true
      case rx => Enumerate.depthRegexFiles(rx)
    }
    { case (i, m) =>
      // indexes past the roots belong to the destination's listing
      if (i >= qRoots.length) None
      else PathUtils.makeRelative(qRoots(i), m.path).filter(selected(m, _)).flatMap { rel =>
        if (rel == ".") {
          if (m.isDir) None else Some(CopyTask(m, baseNames(i))) // single-file source keeps its name
        } else Some(CopyTask(m, if (nest) s"${baseNames(i)}/$rel" else rel))
      }
    }
  }

  /** CopyTasks for the source roots: every entry the walk listed under
    * root i < roots.length (see [[sourceTask]]). One pass over the walk
    * whatever the root count. */
  private[graft] def sourceTasks(
      walk: RDD[(Int, FileMeta)],
      roots: Seq[String],
      cfg: CopyConfig,
  ): RDD[CopyTask] = walk.flatMap(sourceTask(roots, cfg))

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
            val admit = new Admission(fileLimit, sizeLimit, fc0, bc0)
            it.foreach(admit(_))
            (admit.files, admit.bytes)
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
        val (fc, bc) = bEntry.value(pid)
        it.filter(new Admission(fileLimit, sizeLimit, fc, bc))
      }
      // materialize the admitted manifest so the intermediate ranged blocks
      // and the entry-state broadcast can be released NOW — a long-lived
      // session issuing repeated limited copies must not accumulate a pinned
      // full manifest per call (graft.cli.Main.run releases what an op
      // pinned once it returns; direct Planner callers get no such sweep)
      val out = dirs.union(spark.createDataset(keptRdd)).localCheckpoint()
      ranged.unpersist(blocking = false)
      bEntry.destroy()
      out
    }
  }

  /** The admission walk from `files` admitted files of `bytes` bytes: a
    * file is admitted unless it would pass `fileLimit` or `sizeLimit`. */
  private final class Admission(fileLimit: Long, sizeLimit: Long, var files: Long, var bytes: Long)
      extends (CopyTask => Boolean) {
    def apply(t: CopyTask): Boolean = {
      val len = math.max(t.src.length, 0L)
      val admitted = !(files == fileLimit || bytes + len > sizeLimit)
      if (admitted) { files += 1; bytes += len }
      admitted
    }
  }

  /** What the keyed pass knows about one destination-relative path. Fixed
    * size whatever the tree: the number of source entries mapped here, one
    * of them, the destination entry's length/mtime, and whether the source
    * manifest's path closure keeps the path. */
  private final case class Slot(srcs: Int, task: Option[CopyTask], dst: Option[(Long, Long)], kept: Boolean) {
    def +(o: Slot): Slot = Slot(srcs + o.srcs, task.orElse(o.task), dst.orElse(o.dst), kept || o.kept)
  }

  /** One decided key of the keyed pass. */
  private sealed trait Row extends Serializable
  private final case class Copy(task: CopyTask) extends Row
  private final case class Delete(relDst: String) extends Row
  private final case class Duplicate(relDst: String) extends Row

  /** Per-partition tally of the decided keys, summed on the driver. */
  private final case class Summary(dups: Long, dupExample: String, files: Long, bytes: Long, deletes: Long) {
    def +(r: Row): Summary = r match {
      case Copy(t) if !t.src.isDir => copy(files = files + 1, bytes = bytes + t.src.length)
      case Copy(_) => this
      case Delete(_) => copy(deletes = deletes + 1)
      case Duplicate(rel) => copy(dups = dups + 1, dupExample = if (dups == 0) rel else dupExample)
    }
    def ++(o: Summary): Summary =
      Summary(dups + o.dups, if (dups > 0) dupExample else o.dupExample,
        files + o.files, bytes + o.bytes, deletes + o.deletes)
  }

  private object Summary {
    val Empty: Summary = Summary(0, "", 0, 0, 0)
  }

  /** The keyed pass: duplicate check, update diff and delete sync over one
    * shuffle of the walk, decided and tallied by its [[Summary]] in ONE
    * job. Ancestor suppression is a second job, run only when that summary
    * counted a doomed path; it recounts the deletes.
    *
    * Keys are destination-relative paths. One `flatMap` reads the walk
    * once: a source entry emits its source slot, and under `-delete` with
    * a destination a kept slot for every prefix of its relDst (the whole
    * manifest before limits and diff is kept: a file-only manifest —
    * -regexPath, -f with file URIs — would otherwise doom the parent
    * directories of the files it copies, and the recursive delete would
    * take the files along); a destination entry emits its destination
    * slot. Under `-filelimit`/`-sizelimit` the `admitted` manifest is
    * unioned in as the sources instead. The reduce combines map-side into
    * one [[Slot]] per key, so no key's state grows with its directory.
    *
    * Per key (DistCpUtils.java:84-291):
    *   - two or more sources is a duplicate: [[DuplicationException]]
    *     (exit -2). It is checked on the admitted manifest BEFORE the diff:
    *     diffing first would hide a collision whenever one colliding
    *     source is up to date, and the two sources would ping-pong the
    *     destination between runs with exit 0;
    *   - a source is a task unless `-update` finds a destination entry
    *     that [[SameFile]] holds; it fetches the checksums on the executor,
    *     and only for a metadata-equal pair;
    *   - a destination entry with no source that is not kept is doomed.
    * The doomed set is closed under descendants, so suppressing doomed
    * paths whose parent is doomed (`subtractByKey` on the parent key)
    * leaves one recursive delete per doomed subtree.
    *
    * Returns the tasks and the deletes as RDDs over the pass's
    * checkpointed blocks, with the summary of both.
    */
  private def keyedPass(
      walk: RDD[(Int, FileMeta)],
      roots: Seq[String],
      admitted: Option[RDD[CopyTask]],
      withDst: Boolean,
      cfg: CopyConfig,
  ): (RDD[CopyTask], RDD[String], Summary) = {
    val sc = walk.sparkContext
    val (update, dstRoot) = (cfg.update, cfg.dst)
    val deleting = withDst && cfg.delete
    val walkSources = admitted.isEmpty
    val source = sourceTask(roots, cfg)
    // the destination's entries carry index roots.length
    val (dstIdx, qDstRoot) = (roots.length, if (withDst) Enumerate.qualify(dstRoot) else "")
    val fromWalk = walk.flatMap { case e @ (i, m) =>
      if (i == dstIdx)
        PathUtils.makeRelative(qDstRoot, m.path).filter(_ != ".").iterator
          .map(_ -> Slot(0, None, Some((m.length, m.mtime)), kept = false))
      else source(e).iterator.flatMap { t =>
        val own = Slot(if (walkSources) 1 else 0, Option.when(walkSources)(t), None, kept = deleting)
        val segs = if (deleting) t.relDst.split('/') else Array.empty[String]
        Iterator.single(t.relDst -> own) ++
          (1 until segs.length).iterator.map(i => segs.take(i).mkString("/") -> Slot(0, None, None, kept = true))
      }
    }
    val slots = admitted
      .fold(fromWalk)(a => fromWalk.union(a.map(t => t.relDst -> Slot(1, Some(t), None, kept = false))))
      .reduceByKey(_ + _, sc.defaultParallelism)
    val decided: RDD[(String, Row)] = slots.mapPartitions({ it =>
      val conf = Fs.conf()
      def checksums(t: CopyTask) = {
        val (sp, dp) = (new Path(t.src.path), PathUtils.dstPath(dstRoot, t.relDst))
        (sp.getFileSystem(conf).getFileChecksum(sp), dp.getFileSystem(conf).getFileChecksum(dp))
      }
      it.flatMap {
        case (rel, s) if s.srcs > 1 => Some(rel -> Duplicate(rel))
        case (rel, Slot(_, Some(t), d, _)) =>
          val changed = !update || t.src.isDir || d.forall { case (len, mtime) =>
            !SameFile(t.src, len, mtime, cfg, checksums(t))
          }
          Option.when(changed)(rel -> Copy(t))
        case (rel, Slot(_, None, Some(_), false)) if deleting => Some(rel -> Delete(rel))
        case _ => None
      }
    }, preservesPartitioning = true)
    // read by the summary, the tasks and the suppression alike
    decided.localCheckpoint()
    val summary = sc.runJob(decided, (it: Iterator[(String, Row)]) => it.foldLeft(Summary.Empty)(_ + _._2))
      .foldLeft(Summary.Empty)(_ ++ _)
    if (summary.dups > 0) throw new DuplicationException(s"duplicate destination: ${summary.dupExample}")
    val tasks = decided.values.collect { case Copy(t) => t }
    if (summary.deletes == 0) (tasks, sc.emptyRDD[String], summary)
    else {
      // the doomed side is already partitioned by the pass: only the
      // parent-keyed side shuffles
      val doomed = decided.filter(_._2.isInstanceOf[Delete])
      val deletes = doomed
        .map { case (rel, _) => rel.take(math.max(rel.lastIndexOf('/'), 0)) -> rel } // top level: ""
        .subtractByKey(doomed, slots.partitioner.get)
        .values
      deletes.localCheckpoint()
      (tasks, deletes, summary.copy(deletes = deletes.count()))
    }
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
    * execute later, possibly from another process): the two manifests
    * persist as parquet — the Spark-native analog of the reference's
    * SequenceFile staging manifests (DistCPPlus.java:577-595).
    */
  def savePlan(spark: SparkSession, plan: CopyPlan, path: String): Unit = {
    import spark.implicits._
    spark.createDataset(plan.tasks).write.mode("overwrite").parquet(s"$path/tasks")
    spark.createDataset(plan.deletes).toDF("relDst").write.mode("overwrite").parquet(s"$path/deletes")
  }

  def loadPlan(spark: SparkSession, path: String): CopyPlan = {
    import spark.implicits._
    CopyPlan(
      tasks = spark.read.parquet(s"$path/tasks").as[CopyTask].rdd,
      deletes = spark.read.parquet(s"$path/deletes").select(col("relDst")).as[String].rdd,
    )
  }

  /** Full plan: enumerate → limits → the keyed pass (dup check, update
    * diff, delete set). Throws [[DuplicationException]] before it returns. */
  def plan(spark: SparkSession, cfg: CopyConfig): CopyPlan = {
    import spark.implicits._
    val roots = cfg.flatRegex match {
      case Some(rg) =>
        cfg.srcs ++ Enumerate.flatRegex(rg)
      case None =>
        cfg.srcs ++ cfg.fileList.toSeq.flatMap(f => Enumerate.fileList(spark, f).collect())
    }
    // the destination joins the ONE walk when a diff or delete needs it and
    // it exists: index roots.length
    val dstPath = new Path(cfg.dst)
    val withDst = (cfg.update || cfg.delete) && dstPath.getFileSystem(Fs.conf()).exists(dstPath)
    val walk = Enumerate.listRoots(spark, if (withDst) roots :+ cfg.dst else roots,
      owners = cfg.preserve.exists(FileAttribute.Ownership))
    // Under -update the reference OVERWRITES the limit-skip decision with the
    // same-file check (DistCPPlus.java:681-700: `skipfile = isSame`), so
    // -filelimit/-sizelimit are effectively ignored — reproduced here by
    // bypassing applyLimits when updating.
    val admitted = Option.when(!cfg.update && (cfg.fileLimit != Long.MaxValue || cfg.sizeLimit != Long.MaxValue)) {
      applyLimits(spark.createDataset(sourceTasks(walk, roots, cfg)), cfg.fileLimit, cfg.sizeLimit).rdd
    }
    val (tasks, deletes, summary) = keyedPass(walk, roots, admitted, withDst, cfg)
    CopyPlan(tasks, deletes, Some(CopyPlan.Totals(summary.files, summary.bytes, summary.deletes)))
  }
}
