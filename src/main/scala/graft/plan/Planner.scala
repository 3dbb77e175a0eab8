package graft.plan

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.enumerate.Enumerate
import graft.operators.PrefixSum

/** The copy planner (SURVEY.md §7 step 3).
  *
  * What the reference does with a two-cursor merge of the sorted source
  * and destination listings (DistCpUtils.java:84-223) happens here inside
  * the listing walk: each unit of the walk is one destination-relative
  * directory with every physical directory that maps to it (each source
  * root's, and the destination's when `-update`/`-delete` need it). A walk
  * task lists every member of its unit once, merges the children by name,
  * and decides each child where it was listed:
  *   - dup check     → two or more source tasks on one name    (op 8)
  *   - update diff   → task unless [[graft.core.SameFile]] holds, its
  *                     checksums fetched in the same task      (op 6)
  *   - delete sync   → a destination-only child is one delete;
  *                     its subtree is never listed, so ancestor
  *                     suppression holds by construction       (op 9)
  * around it:
  *   - guards        → a source directory that is no task over a
  *                     destination entry is kept only if a task lies
  *                     below it: one job after the walk, run only when
  *                     the walk tagged such a directory
  *   - limits        → chained per-partition skip-and-continue  (op 5)
  *   - split packing → range-partitioned cumsum bucketing      (op 10)
  *
  * A plan's two manifests are RDDs over the walk's checkpointed decided
  * rows (unchanged entries are never emitted), which
  * [[graft.exec.Executor.execute]] copies from as they are: a plan runs
  * one Spark job per walk round, and a walk of one round no shuffle. A
  * Dataset is built only at the parquet boundary ([[Planner.savePlan]], [[Planner.loadPlan]]), for
  * `-filelimit`/`-sizelimit` admission ([[Planner.applyLimits]]) and as the
  * byte packer's input ([[Planner.assignBuckets]]) for a plan with bytes to
  * pack.
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
  lazy val totals: CopyPlan.Totals = planned.getOrElse(CopyPlan.Totals.of(tasks, deletes.count()))

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
    def of(tasks: RDD[CopyTask], deletes: Long): Totals = {
      val (files, bytes) = tasks.filter(!_.src.isDir).map(t => (1L, t.src.length))
        .fold((0L, 0L)) { case ((f1, b1), (f2, b2)) => (f1 + f2, b1 + b2) }
      Totals(files, bytes, deletes)
    }
  }
}

object Planner {

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

  /** One unit of the co-walk: the destination-relative directory `rel`
    * ("" for the destination root) and the physical directories that map
    * to it: each source root's directory there (several only when roots
    * share a basename), and the destination's, when it exists and
    * `-update`/`-delete` need it. `own` holds the copy tasks of the
    * directory's own name, emitted by the task that lists it, so a plan's
    * directories spread like the walk. `guarded` marks a source directory
    * that is no task itself over a destination entry, which is deleted
    * unless a task lies below it; `under` is the nearest guard above the
    * unit. A shard of the root level, which the driver lists, carries
    * its entries in `level` instead (see [[CoWalk.rootUnits]]). */
  private final case class Dir(
      rel: String,
      srcs: Seq[(Int, String)],
      dst: Option[String],
      own: List[CopyTask] = Nil,
      guarded: Boolean = false,
      under: Option[String] = None,
      level: Option[Level] = None,
  )

  /** Listed children of one directory: source entries with their root
    * index (`top`: the roots themselves, when they are the destination
    * root's children) and the destination's entries. */
  private final case class Level(srcs: Seq[(Int, FileMeta)], dsts: Seq[FileMeta], top: Boolean)

  /** Root-level entries (source and destination) per shard of the root
    * level, on average: the shards are their count over this, rounded up,
    * and each name's entries go to the shard of its hash. A shard is one
    * first-round task, so this bounds what the driver ships in one task. */
  private[graft] val ShardEntries = 4096

  private def nameOf(m: FileMeta): String = m.path.substring(m.path.lastIndexOf('/') + 1)

  /** One decided row of the co-walk. A row with `under` set lies below
    * that guard: see [[Planner.resolve]]. */
  private sealed trait Row extends Serializable
  private final case class Copy(task: CopyTask) extends Row
  private final case class Delete(rel: String, under: Option[String] = None) extends Row
  private final case class Duplicate(rel: String) extends Row
  /** A guarded directory: deleted unless some task keeps it. */
  private final case class Guard(rel: String, under: Option[String]) extends Row
  /** A task lies below the guard `rel`. */
  private final case class Keep(rel: String) extends Row

  /** Per-partition tally of the decided rows, summed on the driver.
    * `deletes` counts the deletes below no guard, `guards` the guards. */
  private final case class Summary(dups: Long, dupExample: String, files: Long, bytes: Long, deletes: Long,
      guards: Long) {
    def +(r: Row): Summary = r match {
      case Copy(t) if !t.src.isDir => copy(files = files + 1, bytes = bytes + t.src.length)
      case Delete(_, None) => copy(deletes = deletes + 1)
      case Guard(_, _) => copy(guards = guards + 1)
      case Duplicate(rel) => copy(dups = dups + 1, dupExample = if (dups == 0) rel else dupExample)
      case _ => this
    }
    def ++(o: Summary): Summary =
      Summary(dups + o.dups, if (dups > 0) dupExample else o.dupExample,
        files + o.files, bytes + o.bytes, deletes + o.deletes, guards + o.guards)
  }

  private object Summary {
    val Empty: Summary = Summary(0, "", 0, 0, 0, 0)
    def of(rows: Iterator[Row]): Summary = rows.foldLeft(Empty)(_ + _)
  }

  /** The co-walk of one task (or of the driver, for the root level's
    * source directories: [[rootUnits]]), given each root's basename, the
    * flags, and whether it decides duplicates (not under limits, where the
    * admitted manifest does).
    *
    * [[visit]] lists a unit's members and [[merge]]s their children by
    * name. A directory that is no task is kept only if a task lies below
    * it (the reference's rule); the walk only tags what that needs, and
    * [[resolve]] decides it: a guarded directory is a [[Guard]] row under
    * the nearest guard above it, a task below a guard is one [[Keep]] of
    * that guard per walk task, and a delete below a guard carries it. */
  private final class CoWalk(baseNames: Array[String], cfg: CopyConfig, dupsInWalk: Boolean, conf: Configuration) {
    private val nest = baseNames.length > 1 // each root nests under its basename (distcp semantics)
    private val owners = cfg.preserve.exists(FileAttribute.Ownership)
    private val out = mutable.ArrayBuffer.empty[Row]
    private val keeps = mutable.Set.empty[String]
    private val selected = cfg.depthRegexes match {
      case Nil => None
      case rx => Some(Enumerate.depthRegexFiles(rx))
    }

    def rows: Iterator[Row] = out.iterator

    /** The children of directory `p`, with permission, owner and group
      * read only for a source listed under `-pu`/`-pg`/`-pp`. */
    def list(p: String, source: Boolean): Seq[FileMeta] = {
      val path = new Path(p)
      path.getFileSystem(conf).listStatus(path).toSeq.map(Enumerate.toMeta(_, source && owners))
    }

    def visit(d: Dir): Seq[Dir] = {
      d.own.foreach(out += Copy(_))
      val scope = if (d.guarded) { out += Guard(d.rel, d.under); Some(d.rel) } else d.under
      merge(d.rel, scope, d.level.getOrElse(Level(
        d.srcs.flatMap { case (i, p) => list(p, source = true).map(i -> _) },
        d.dst.toSeq.flatMap(list(_, source = false)), top = false)))
    }

    /** The first round's units, from the root level as the driver listed
      * it: the other names in shards ([[ShardEntries]]), which the walk's
      * tasks merge and decide, and the units of the names with a source
      * directory, made here (which decides only what those names need: a
      * duplicate, or the diff of a file root beside a directory root of
      * the same name). */
    def rootUnits(level: Level): (Seq[Dir], Seq[Dir]) = {
      val dirNames = level.srcs.collect { case (_, m) if m.isDir => nameOf(m) }.toSet
      val (dirSrcs, srcs) = level.srcs.partition(s => dirNames(nameOf(s._2)))
      val (dirDsts, dsts) = level.dsts.partition(m => dirNames(nameOf(m)))
      val n = (srcs.size + dsts.size + ShardEntries - 1) / ShardEntries
      def shard(m: FileMeta): Int = Math.floorMod(nameOf(m).hashCode, n)
      val (srcBy, dstBy) = (srcs.groupBy(s => shard(s._2)), dsts.groupBy(shard))
      ((0 until n).map(k => Dir("", Nil, None, level = Some(Level(srcBy.getOrElse(k, Nil), dstBy.getOrElse(k, Nil),
        level.top)))), merge("", None, Level(dirSrcs, dirDsts, level.top)))
    }

    /** Decides the children of `rel` below guard `scope`, given by
      * `level`. Returns the units to descend into. */
    private def merge(rel: String, scope: Option[String], level: Level): Seq[Dir] = {
      val bySrc = level.srcs.groupBy(s => nameOf(s._2))
      val byDst = level.dsts.map(m => nameOf(m) -> m).toMap
      (bySrc.keySet ++ byDst.keySet).toSeq.flatMap { n =>
        val r = if (rel.isEmpty) n else s"$rel/$n"
        val here = bySrc.getOrElse(n, Nil)
        val d = byDst.get(n)
        val tasks = here.flatMap { case (i, m) => task(i, m, r, level.top) }
        if (tasks.length > 1 && dupsInWalk) out += Duplicate(r)
        if (tasks.nonEmpty) scope.filter(keeps.add).foreach(out += Keep(_))
        val copies = tasks.filter(t => t.src.isDir || changed(t, d))
        val dirs = here.collect { case (i, m) if m.isDir => (i, m.path) }
        val dstDir = d.filter(_.isDir).map(_.path)
        if (dirs.nonEmpty)
          Some(Dir(r, dirs, dstDir, copies.toList, guarded = tasks.isEmpty && d.nonEmpty && cfg.delete, under = scope))
        else {
          copies.foreach(out += Copy(_))
          if (d.isEmpty || !cfg.delete) None
          else if (tasks.isEmpty) { out += Delete(r, scope); None }
          // a source file over a destination directory: its children go
          else dstDir.map(p => Dir(r, Nil, Some(p), under = scope))
        }
      }
    }

    /** The copy task of source entry `m` of root `i` at `r`, if any: a
      * directory root is none, and under `-regexPath` only the selected
      * files are. */
    private def task(i: Int, m: FileMeta, r: String, top: Boolean): Option[CopyTask] = {
      val rel = if (top) "." else if (nest) r.drop(baseNames(i).length + 1) else r
      Option.when(!(top && m.isDir) && selected.forall(_(m, rel)))(CopyTask(m, r))
    }

    /** A file task is a copy unless `-update` finds that [[SameFile]]
      * holds against the destination entry; checksums are fetched only for
      * a metadata-equal pair. */
    private def changed(t: CopyTask, d: Option[FileMeta]): Boolean =
      !cfg.update || d.forall { m =>
        !SameFile(t.src, m.length, m.mtime, cfg, {
          val (sp, dp) = (new Path(t.src.path), new Path(m.path))
          (sp.getFileSystem(conf).getFileChecksum(sp), dp.getFileSystem(conf).getFileChecksum(dp))
        })
      }
  }

  /** What [[resolve]] gathers from the rows: each guard and the guard
    * above it, the guards a task lies below, and the number of deletes
    * below each guard. */
  private final case class GuardRows(
      guards: Map[String, Option[String]] = Map.empty,
      keeps: Set[String] = Set.empty,
      waiting: Map[String, Long] = Map.empty,
  ) {
    def +(r: Row): GuardRows = r match {
      case Guard(g, under) => copy(guards = guards.updated(g, under))
      case Keep(g) => copy(keeps = keeps + g)
      case Delete(_, Some(g)) => copy(waiting = waiting.updated(g, waiting.getOrElse(g, 0L) + 1))
      case _ => this
    }
    def ++(o: GuardRows): GuardRows =
      GuardRows(guards ++ o.guards, keeps ++ o.keeps,
        o.waiting.foldLeft(waiting) { case (m, (g, n)) => m.updated(g, m.getOrElse(g, 0L) + n) })
  }

  /** The deletes of a walk that tagged guards, and their count, in one job
    * that gathers their [[GuardRows]]. A guard is kept when a task lies
    * below it or below a guard inside it; a delete below a kept guard goes,
    * and a guard that is not kept goes when the guard above it is kept or
    * it has none. */
  private def resolve(rows: RDD[Row], undelayed: Long): (RDD[String], Long) = {
    val p = rows.aggregate(GuardRows())(_ + _, _ ++ _)
    val kept = mutable.Set.empty[String]
    for (k <- p.keeps) {
      var g = Option(k)
      while (g.exists(kept.add)) g = g.flatMap(p.guards.getOrElse(_, None))
    }
    val keptSet = kept.toSet
    val gone = p.guards.collect { case (g, u) if !keptSet(g) && u.forall(keptSet) => g }.toSet
    val deletes = rows.flatMap {
      case Delete(r, None) => Some(r)
      case Delete(r, Some(g)) if keptSet(g) => Some(r)
      case Guard(g, _) if gone(g) => Some(g)
      case _ => None
    }
    (deletes, undelayed + p.waiting.collect { case (g, n) if keptSet(g) => n }.sum + gone.size)
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

  /** Full plan: the co-walk (dup check, update diff, delete set), then
    * `-filelimit`/`-sizelimit` admission and the dup check on the admitted
    * manifest. Throws [[DuplicationException]] before it returns.
    *
    * The driver stats the roots and lists the root level (the one
    * directory root's children, or the roots themselves, beside the
    * destination's children): its source subdirectories' units and its
    * other names, in shards ([[CoWalk.rootUnits]]), are the walk's first
    * round, which spreads the units over min(their number,
    * defaultParallelism) tasks and gives each shard a task of its own, so
    * no root-level file is diffed on the driver and no task carries more
    * than a shard of its listing. Each round is one Spark job whose tasks
    * return the [[Summary]] of their rows. A walk that tagged a guard runs
    * one more job ([[resolve]]).
    */
  def plan(spark: SparkSession, cfg: CopyConfig): CopyPlan = {
    val sc = spark.sparkContext
    val roots = cfg.flatRegex match {
      case Some(rg) =>
        cfg.srcs ++ Enumerate.flatRegex(rg)
      case None =>
        cfg.srcs ++ cfg.fileList.toSeq.flatMap(f => Enumerate.fileList(spark, f).collect())
    }
    val conf = Fs.conf()
    def status(p: String): FileStatus = new Path(p).getFileSystem(conf).getFileStatus(new Path(p))
    val owners = cfg.preserve.exists(FileAttribute.Ownership)
    val tops = roots.map(r => Enumerate.toMeta(status(r), owners))
    // the destination joins the walk when a diff or delete needs it and it
    // is a directory
    val dst = Option.when(cfg.update || cfg.delete) {
      try Some(status(cfg.dst)).filter(_.isDirectory).map(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => None }
    }.flatten
    // Under -update the reference OVERWRITES the limit-skip decision with the
    // same-file check (DistCPPlus.java:681-700: `skipfile = isSame`), so
    // -filelimit/-sizelimit are effectively ignored — reproduced here by
    // bypassing applyLimits when updating.
    val limited = !cfg.update && (cfg.fileLimit != Long.MaxValue || cfg.sizeLimit != Long.MaxValue)
    val baseNames = tops.map(m => new Path(m.path).getName).toArray
    val co = new CoWalk(baseNames, cfg, !limited, conf)
    // one directory root is the destination root; otherwise the roots are
    // the destination root's children
    val single = tops.length == 1 && tops.head.isDir
    val (shards, dirs) = co.rootUnits(Level(
      if (single) co.list(tops.head.path, source = true).map(0 -> _) else tops.zipWithIndex.map(_.swap),
      dst.toSeq.flatMap(co.list(_, source = false)), top = !single))
    co.rows.collectFirst { case Duplicate(rel) => throw new DuplicationException(s"duplicate destination: $rel") }
    // each shard is a task of its own, so no task carries more than one
    // shard of the driver's listing
    val first = sc.union(Enumerate.spread(sc, dirs) +: shards.map(u => sc.parallelize(Seq(u), 1)))
    val (rows, summary) = Enumerate.rounds(sc, Seq.empty[Row], first, shards.size + dirs.size, Summary.of,
        (_: Summary) ++ (_: Summary)) { given =>
      val (co, units) = (new CoWalk(baseNames, cfg, !limited, Fs.conf()), given.toSeq)
      val left = Enumerate.budgeted(units, math.max(units.size, Enumerate.DirsPerTask))(co.visit)
      co.rows.map(Right(_)) ++ left.iterator.map(Left(_))
    }
    if (summary.dups > 0) throw new DuplicationException(s"duplicate destination: ${summary.dupExample}")
    val tasks = rows.collect { case Copy(t) => t }
    val (deletes, nDeletes) =
      if (summary.guards == 0) (rows.collect { case Delete(r, None) => r }, summary.deletes)
      else resolve(rows, summary.deletes)
    if (!limited) CopyPlan(tasks, deletes, Some(CopyPlan.Totals(summary.files, summary.bytes, nDeletes)))
    else {
      val admitted =
        applyLimits(spark.createDataset(tasks)(Encoders.product[CopyTask]), cfg.fileLimit, cfg.sizeLimit).rdd
      admitted.map(_.relDst -> 1).reduceByKey(_ + _).filter(_._2 > 1).keys.take(1).foreach { rel =>
        throw new DuplicationException(s"duplicate destination: $rel")
      }
      CopyPlan(admitted, deletes, Some(CopyPlan.Totals.of(admitted, nDeletes)))
    }
  }
}
