package graft.enumerate

import java.util.regex.Pattern

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{FileMeta, Fs}

/** Parallel filesystem enumeration (SURVEY.md §2.1 ops 1-4, 18).
  *
  * The reference walks each source tree with a driver-side stack
  * (DistCPPlus.java:611-750) and batches metadata RPCs by parent dir
  * (FileStatusClusterOptimizer.java:50-115). Here the walk is a distributed
  * round-by-round BFS over all roots at once: each round's tasks list their
  * part of the current frontier with one `listStatus` per dir inside
  * `mapPartitions`, and descend into the subtrees below it up to a fixed
  * number of directories per task, so a small tree costs one Spark job and
  * a 1000-executor cluster fans a large tree's metadata RPCs out instead of
  * serializing them on the driver — the reference's worst scalability
  * bottleneck (SURVEY.md §2.2). The result is metadata-scale
  * (one row per file), so collect-free unions stay cheap relative to the
  * data being copied.
  *
  * [[rounds]] is the one round loop: [[listRoots]]/[[listTree]] are its
  * list-only use, and the copy planner's co-walk, which lists each source
  * directory beside its destination twin and decides the plan there, is
  * the other.
  */
object Enumerate {

  /** `st` as a [[FileMeta]]. Permission, owner and group are read only
    * when `owners` is set and are empty strings otherwise: on a local file
    * system without the native Hadoop library each of those reads forks
    * `ls -ld`, which costs ~100× the `listStatus` that produced `st`, and
    * only `-pu`/`-pg`/`-pp` ever use them. */
  def toMeta(st: FileStatus, owners: Boolean = true): FileMeta =
    FileMeta(
      // the FULL qualified URI, scheme included: stripping to the bare path
      // (toUri.getPath) made every later access re-resolve against the
      // DEFAULT filesystem — invisible locally, but a dual-cluster copy
      // (hdfs://nn1 → hdfs://nn2, the reference's primary use case,
      // DistCPPlus.java:38-43) would read the wrong cluster, and checksum
      // fetches degraded to the default FS's (null ⇒ CRC diff silently off)
      path = st.getPath.toString,
      length = st.getLen,
      isDir = st.isDirectory,
      replication = st.getReplication.toInt,
      blockSize = st.getBlockSize,
      mtime = st.getModificationTime,
      atime = st.getAccessTime,
      perm = if (owners) st.getPermission.toString else "",
      owner = if (owners) st.getOwner else "",
      group = if (owners) st.getGroup else "",
    )

  private def fs(conf: Configuration, path: String): FileSystem =
    new Path(path).getFileSystem(conf)

  /** Directories one walk task lists: all it was given, then the
    * subdirectories it finds, breadth-first, until it has listed this
    * many. A root of at most this many directories is listed in one task
    * of the list-only walk's first round (the sweep is in CHANGES.md). */
  private[graft] val DirsPerTask: Int = 64

  /** One walk task's breadth-first budget: visits every unit it was
    * given, then the units those visits return, until it has visited
    * `quota` units. Returns the units found but not visited. */
  private[graft] def budgeted[U](given: Seq[U], quota: Int)(visit: U => Iterable[U]): Seq[U] = {
    val queue = mutable.Queue.from(given)
    var visited = 0
    while (queue.nonEmpty && visited < quota) {
      visited += 1
      queue ++= visit(queue.dequeue())
    }
    queue.toSeq
  }

  /** `units` over min(their number, defaultParallelism) partitions. */
  private[graft] def spread[U: ClassTag](sc: SparkContext, units: Seq[U]): RDD[U] =
    if (units.isEmpty) sc.emptyRDD[U] else sc.parallelize(units, math.min(units.size, sc.defaultParallelism))

  /** The walk's round loop, shared by the list-only walk ([[listRoots]])
    * and the planner's co-walk ([[graft.plan.Planner.plan]]). `top` is
    * what the driver emitted (the roots' own entries) and `first` the
    * first round's `units` units, partitioned by the caller (as [[spread]]
    * does).
    *
    * Each round is ONE Spark job; after the first, over
    * min(frontier, defaultParallelism) tasks. A task runs `task` over its
    * part of the frontier, which visits its units and descends up to
    * [[DirsPerTask]] units ([[budgeted]]), and emits its rows as `Right` and the units found but
    * not visited as `Left`: the next round's frontier, spread by a shuffle
    * inside that round's job. The round is locally checkpointed, and its
    * job returns per task the frontier count and `tally` of the rows (a
    * fold that reads every row), merged on the driver with `merge`; `top`
    * is tallied on the driver. A tree whose units fit the round-1 tasks'
    * budgets walks in one job, and no tree takes more rounds than it has
    * directory levels.
    *
    * Returns the rows, one flat union of `top` and the checkpointed
    * rounds, so its lineage does not grow with depth, coalesced to
    * defaultParallelism partitions (a deep walk would otherwise hold up to
    * rounds × defaultParallelism small ones), and the merged tally.
    */
  private[graft] def rounds[U: ClassTag, R: ClassTag, S](
      sc: SparkContext,
      top: Seq[R],
      first: RDD[U],
      units: Long,
      tally: Iterator[R] => S,
      merge: (S, S) => S,
  )(task: Iterator[U] => Iterator[Either[U, R]]): (RDD[R], S) = {
    val parts = Vector.newBuilder[RDD[R]]
    if (top.nonEmpty) parts += sc.parallelize(top, 1)
    var summary = tally(top.iterator)
    var width = (_: Long) => first
    var left = units
    while (left > 0) {
      val round = width(left).mapPartitions(task)
      round.localCheckpoint()
      // the round's one job: pins its blocks, counts the frontier, tallies
      val perTask = sc.runJob(round, (it: Iterator[Either[U, R]]) => {
        var left = 0L
        val s = tally(it.flatMap {
          case Left(_) => left += 1; None
          case Right(r) => Some(r)
        })
        (left, s)
      })
      summary = perTask.foldLeft(summary)((a, p) => merge(a, p._2))
      left = perTask.map(_._1).sum
      parts += round.collect { case Right(r) => r }
      val next = round.collect { case Left(u) => u }
      width = n => next.repartition(math.min(n, sc.defaultParallelism.toLong).toInt)
    }
    (sc.union(parts.result()).coalesce(sc.defaultParallelism), summary)
  }

  /** Full recursive enumeration of every root in ONE walk (each root's own
    * entry included). Every entry is tagged with the INDEX of the root it
    * was listed under, not matched to a root by path prefix, so equal or
    * nested roots each get their complete listing. Permission, owner and
    * group are read only when `owners` is set (see [[toMeta]]).
    *
    * The driver stats the roots; the directory roots are the first round
    * of [[rounds]], whose tasks list one directory per unit, so a root of
    * at most [[DirsPerTask]] directories lists in one task.
    */
  def listRoots(spark: SparkSession, roots: Seq[String], owners: Boolean): RDD[(Int, FileMeta)] = {
    val conf = Fs.conf()
    val top = roots.zipWithIndex.map { case (r, i) => i -> toMeta(fs(conf, r).getFileStatus(new Path(r)), owners) }
    val first = top.collect { case (i, m) if m.isDir => i -> m.path }
    rounds(spark.sparkContext, top, spread(spark.sparkContext, first), first.size,
      (_: Iterator[(Int, FileMeta)]).foreach(_ => ()), (_: Unit, _: Unit) => ()) { given =>
      val (conf, units) = (Fs.conf(), given.toSeq)
      val out = mutable.ArrayBuffer.empty[(Int, FileMeta)]
      val left = budgeted(units, math.max(units.size, DirsPerTask))(listDir(conf, owners, out))
      out.iterator.map(Right(_)) ++ left.iterator.map(Left(_))
    }._1
  }

  /** Lists `dir`, a (root index, directory) pair, into `out`; returns its
    * subdirectories. */
  private def listDir(conf: Configuration, owners: Boolean, out: mutable.Growable[(Int, FileMeta)])(
      dir: (Int, String)): Seq[(Int, String)] =
    fs(conf, dir._2).listStatus(new Path(dir._2)).toSeq.flatMap { st =>
      val m = toMeta(st, owners)
      out += dir._1 -> m
      Option.when(m.isDir)(dir._1 -> m.path)
    }

  /** Full recursive enumeration of `root` (the root entry itself included),
    * without permission, owner and group. */
  def listTree(spark: SparkSession, root: String): Dataset[FileMeta] = {
    import spark.implicits._
    spark.createDataset(listRoots(spark, Seq(root), owners = false).map(_._2))
  }

  /** `-f <urilist>`: newline-delimited URI list (DistCpUtils.java:378-394).
    * Lines are TRIMMED, not just emptiness-filtered: a CRLF list authored
    * on Windows otherwise yields paths with a trailing \r that fail
    * getFileStatus for files that exist. */
  def fileList(spark: SparkSession, uri: String): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(uri).map(_.trim).filter(_.nonEmpty)
  }

  /** `-rg` flat source selection — all three reference branches
    * (Arguments.java:184-201 parse; 306-346 getFilePaths), as the selected
    * paths. The combined path `dir/pattern` is resolved in order:
    *   1. it IS a directory → its immediate FILES only (subdirectories are
    *      skipped); the reference's `-rg` passes getFilePaths an empty name
    *      prefix (Arguments.java:196), so no name filter applies;
    *   2. it IS a file → that file alone;
    *   3. otherwise, if the parent exists → the parent's children — files
    *      AND directories, the reference's regex branch has no isDir skip —
    *      whose NAME fully matches the trailing segment as a regex;
    *   4. a missing parent yields the empty set (reference returns an empty
    *      collection rather than failing).
    * The one directory is listed on the driver, as the reference does: the
    * selected paths become the walk's roots.
    */
  def flatRegex(dirAndPattern: String): Seq[String] = {
    val full = new Path(dirAndPattern)
    val f = full.getFileSystem(Fs.conf())
    def children(dir: Path)(keep: FileStatus => Boolean): Seq[String] =
      f.listStatus(dir).iterator.filter(keep).map(_.getPath.toString).toSeq
    val st =
      try Some(f.getFileStatus(full))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case Some(s) if s.isDirectory =>
        children(s.getPath)(!_.isDirectory)
      case Some(s) => Seq(s.getPath.toString)
      case None =>
        val idx = dirAndPattern.lastIndexOf('/')
        // no '/' at all (relative pattern with no parent): branch 4 — the
        // reference returns the empty selection; new Path("") would throw
        if (idx < 0) return Nil
        // idx == 0 is a root-level pattern ("/part.*"): the parent is "/",
        // not the empty string new Path rejects
        val dir = new Path(if (idx == 0) "/" else dirAndPattern.take(idx))
        val pattern = dirAndPattern.drop(idx + 1)
        if (!f.exists(dir)) Nil
        else children(dir)(c => Pattern.matches(pattern, c.getPath.getName))
    }
  }

  /** `-regexPath` depth-wise selection (Arguments.java:363-437): the FILES
    * [[graft.plan.Planner]] copies, as a predicate over an entry and its
    * path relative to its root — leaf files at exactly `regexes.length`
    * matching segments PLUS every file underneath a matched directory. The
    * planner applies it while it maps the one walk to tasks: no driver-side
    * dir collection, no re-walk. */
  def depthRegexFiles(regexes: Seq[String]): (FileMeta, String) => Boolean = {
    val compiled = regexes.map(Pattern.compile(_))
    val len = compiled.length
    (m, rel) => !m.isDir && rel != "." && {
      val segs = rel.split('/')
      segs.length >= len &&
        segs.take(len).zip(compiled).forall { case (s, p) => p.matcher(s).matches() }
    }
  }

  /** Batched metadata fetch (FileStatusClusterOptimizer.java:33-147): group
    * requested paths by parent, hydrate each group with ONE listStatus RPC. */
  def batchedStatus(spark: SparkSession, paths: Dataset[String]): Dataset[FileMeta] = {
    import spark.implicits._
    paths
      .groupByKey(p => p.take(math.max(p.lastIndexOf('/'), 1)))
      .flatMapGroups { (parent, children) =>
        // membership on the scheme-less URI path so callers may request with
        // or without a scheme; emitted metas carry the qualified URI
        val want = children.map(c => new Path(c).toUri.getPath).toSet
        val conf = Fs.conf()
        val f = fs(conf, parent)
        f.listStatus(new Path(parent)).iterator
          .filter(st => want.contains(st.getPath.toUri.getPath))
          .map(toMeta(_))
      }
  }
}
