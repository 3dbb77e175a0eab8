package graft

import scala.util.Random

import org.apache.spark.GraftListenerDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{CkTracker, ConnectedComponents}

/** Equivalence + shape tests for connected components: large-star/small-star
  * (SoCC'14, the scale path t49 runs on) must produce the identical
  * (id → min-of-component) map on its distributed path (local-solve bound
  * 0) and its driver-side union-find path (bound ∞, Int and Long ids), with
  * identical output schemas — and both must equal min-label propagation
  * and a driver-side union-find reference — on deterministic shapes (star,
  * path, clique, self-loops, null endpoints, empty) and on seeded random
  * graphs that include the skewed-star regime the algorithm exists for.
  */
class ConnectedComponentsSpec extends SparkTestBase {

  import spark.implicits._

  /** Local-solve bounds forcing each path: distributed, then driver-side. */
  private val Bounds = Seq(0L, Long.MaxValue)

  /** Driver-side union-find ground truth with min-id representatives. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    edges.foreach { case (a, b) => union(a, b) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Min-label propagation to a fixpoint: each round every node takes the
    * min of its own label and its neighbors' (rounds bounded by component
    * DIAMETER; a path of length n needs n rounds). The diameter-bounded
    * baseline t49 originally inlined, kept as the cross-check witness. */
  private def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val tracker = new CkTracker(edges)
    val base = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val (sym, symIds) = tracker.ck(base
      .union(base.select(col("v").as("u"), col("u").as("v")))
      .toDF("src", "nbr"))
    var (labels, labelIds) = tracker.ck(edges.select(col(srcCol).as("id"))
      .union(edges.select(col(dstCol).as("id")))
      .distinct()
      .withColumn("lbl", col("id")))
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      assert(round <= 256, "label propagation did not converge in 256 rounds")
      val nbrMin = sym.join(labels, sym("nbr") === labels("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
      val (next, nextIds) = tracker.ck(
        labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
          .select(
            col("id"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")))
      changed = next
        .join(labels.withColumnRenamed("lbl", "oldLbl"), "id")
        .filter(col("lbl") =!= col("oldLbl"))
        .count()
      tracker.free(labelIds)
      labels = next
      labelIds = nextIds
    }
    tracker.free(symIds)
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** The operator at both bounds: asserts one schema and one row set, and
    * returns them (rows sorted by their string form). */
  private def atBothBounds(edges: DataFrame, srcCol: String, dstCol: String): (StructType, Seq[Row]) = {
    val Seq(distributed, local) = Bounds.map { b =>
      val out = ConnectedComponents.largeSmallStarWithRounds(edges, srcCol, dstCol, localBound = b)._1
      (out.schema, out.collect().toSeq.sortBy(_.toString))
    }
    assert(distributed._1 === local._1, "output schema differs between the two paths")
    assert(distributed._2 === local._2, "output rows differ between the two paths")
    distributed
  }

  private def run(edges: Seq[(Long, Long)]): Unit = {
    val df = edges.toDF("a", "b")
    val got = atBothBounds(df, "a", "b")._2.map(r => r.getLong(0) -> r.getLong(1))
    val lp = labelPropagation(df, "a", "b").as[(Long, Long)].collect().sorted
    // exactly one row per node, identical to propagation and ground truth
    assert(got.map(_._1).distinct.length === got.length, "duplicate ids emitted")
    assert(got.sorted === lp.toSeq)
    assert(got.toMap === unionFind(edges))
  }

  test("star graph (the skewed hub t49 cares about)") {
    run((1L to 500L).map(i => (0L, i)))
  }

  test("reversed star (hub is the max id)") {
    run((0L until 500L).map(i => (i, 500L)))
  }

  test("long path (diameter stress — where propagation is slowest)") {
    run((0L until 200L).map(i => (i, i + 1)))
  }

  test("clique plus isolated self-loop node") {
    val clique = for (i <- 0L until 20L; j <- (i + 1) until 20L) yield (i, j)
    run(clique ++ Seq((99L, 99L))) // 99 is its own component
  }

  test("empty edge set") {
    val df = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(atBothBounds(df, "a", "b")._2.isEmpty)
  }

  test("string ids work (any orderable type, min = lexicographic)") {
    val edges = Seq(("b", "c"), ("c", "a"), ("x", "y"), ("z", "z")).toDF("s", "d")
    val got = atBothBounds(edges, "s", "d")._2.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x", "z" -> "z"))
  }

  test("a null endpoint is its own null-labeled node and joins no component") {
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(1L)), (None, Some(3L)), (Some(4L), None), (Some(3L), Some(5L))).toDF("a", "b")
    val got = atBothBounds(edges, "a", "b")._2
      .map(r => Option(r.get(0)) -> Option(r.get(1))).toSet
    assert(got == Set(Some(1L) -> Some(1L), Some(2L) -> Some(1L), Some(3L) -> Some(3L),
      Some(4L) -> Some(4L), Some(5L) -> Some(3L), None -> None))
  }

  test("an Int-typed edge frame keeps Int ids on both paths") {
    val rnd = new Random(5)
    val edges = Seq.fill(150)((rnd.nextInt(120), rnd.nextInt(120)))
    val (schema, rows) = atBothBounds(edges.toDF("a", "b"), "a", "b")
    assert(schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    val got = rows.map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
    assert(got === unionFind(edges.map { case (a, b) => (a.toLong, b.toLong) }))
  }

  test("Int src with Long dst: both paths widen to one Long schema") {
    val edges = Seq((1, 7L), (7, 3L), (9, 9L), (2, 20L)).toDF("a", "b")
    val (schema, rows) = atBothBounds(edges, "a", "b")
    assert(schema.map(f => (f.name, f.dataType)) == Seq("id" -> LongType, "component" -> LongType))
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 3L -> 1L, 7L -> 1L, 9L -> 9L, 2L -> 2L, 20L -> 2L))
  }

  test("ids other than Int and Long stay on the distributed path at any bound") {
    // the driver-side union-find solves Long ids only (Int widened); the
    // -0.0/0.0 and collation questions other types raise stay with Spark
    val doubles = Seq((1.5, 2.5), (2.5, 3.5), (7.0, 8.0), (9.0, 9.0)).toDF("a", "b")
    val (dLabels, dRounds) =
      ConnectedComponents.largeSmallStarWithRounds(doubles, "a", "b", localBound = Long.MaxValue)
    assert(dRounds > 0)
    assert(dLabels.as[(Double, Double)].collect().toMap ==
      Map(1.5 -> 1.5, 2.5 -> 1.5, 3.5 -> 1.5, 7.0 -> 7.0, 8.0 -> 7.0, 9.0 -> 9.0))
    val strings = Seq(("b", "c"), ("c", "a")).toDF("s", "d")
    val (sLabels, sRounds) =
      ConnectedComponents.largeSmallStarWithRounds(strings, "s", "d", localBound = Long.MaxValue)
    assert(sRounds > 0)
    assert(sLabels.as[(String, String)].collect().toMap == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("a small graph is solved in a few jobs, fewer than the distributed loop") {
    // the caller's collect included: the edge count, the one collect of the
    // edges, and the labeling join — where the loop pays jobs per round
    val star = (1L to 500L).map(i => (0L, i)).toDF("a", "b")
    val sc = spark.sparkContext
    val metrics = new QueryMetrics
    sc.addSparkListener(metrics)
    def jobs(group: String)(cc: => DataFrame): Int = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try cc.collect() finally sc.clearJobGroup()
      assert(GraftListenerDrain.drain(sc))
      metrics(group).jobs
    }
    try {
      val local = jobs("cc-default")(ConnectedComponents.largeSmallStar(star, "a", "b"))
      val distributed = jobs("cc-bound-0")(
        ConnectedComponents.largeSmallStarWithRounds(star, "a", "b", localBound = 0L)._1)
      assert(local <= 6, s"default bound ran $local jobs")
      assert(local < distributed, s"default bound $local jobs vs distributed $distributed")
    } finally sc.removeSparkListener(metrics)
  }

  test("rounds stay logarithmic on a long path (the claim t49 switched for)") {
    // a 300-edge path has diameter 300: min-label propagation pays ~300
    // rounds; large/small-star must converge in O(log n) — single digits
    val path = (0L until 300L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) =
      ConnectedComponents.largeSmallStarWithRounds(path, "a", "b", localBound = 0L)
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 0L))
    assert(rounds <= 10, s"expected O(log n) rounds on a path, took $rounds")
  }

  test("randomized graphs: sparse, dense, and star-mixture regimes") {
    val rnd = new Random(20260813L)
    for (trial <- 1 to 6) {
      val n = 120 + rnd.nextInt(80)
      val regime = trial % 3
      val edges: Seq[(Long, Long)] = regime match {
        case 0 => // sparse random: many small components
          (0 until n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        case 1 => // dense random: one giant component plus stragglers
          (0 until 4 * n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        case _ => // star mixture: a few heavy hubs + random chaff
          val hubs = (0 until 3).map(_ => rnd.nextInt(n).toLong)
          hubs.flatMap(h => (0 until n / 2).map(_ => (h, rnd.nextInt(n).toLong))) ++
            (0 until n / 4).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      }
      withClue(s"trial=$trial regime=$regime n=$n") { run(edges) }
    }
  }

  /** Components of `batches` folded one by one through `incremental`, every
    * call at local-solve bound `bound`. */
  private def folded(batches: Seq[Seq[(Long, Long)]], bound: Long): Map[Long, Long] = {
    var asg = ConnectedComponents.largeSmallStarWithRounds(
      batches.head.toDF("a", "b"), "a", "b", localBound = bound)._1
    batches.tail.foreach { b =>
      asg = ConnectedComponents.incrementalWithBound(
        asg, "id", "component", b.toDF("a", "b"), "a", "b", 64, bound)
    }
    asg.as[(Long, Long)].collect().toMap
  }

  test("incremental fold over arbitrary batch splits equals the batch result") {
    val rnd = new Random(23)
    for (trial <- 1 to 6) {
      val n = 40 + rnd.nextInt(60)
      val edges = Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val truth = unionFind(edges)
      val nBatches = 2 + rnd.nextInt(3)
      val batches = rnd.shuffle(edges).grouped(math.max(1, edges.length / nBatches)).toSeq
      for (bound <- Bounds)
        withClue(s"trial=$trial batches=$nBatches bound=$bound") {
          assert(folded(batches, bound) === truth)
        }
    }
  }

  test("incremental fold merges two established components through one new edge") {
    // two disjoint cliques built first; a single later edge must collapse
    // them into one component labeled by the GLOBAL min — the case where
    // the fold has to rewrite the larger component's root
    val c1 = for (a <- 0L to 4L; b <- 0L to 4L if a < b) yield (a, b)
    val c2 = for (a <- 10L to 14L; b <- 10L to 14L if a < b) yield (a, b)
    for (bound <- Bounds) withClue(s"bound=$bound") {
      val got = folded(Seq(c1 ++ c2, Seq((14L, 4L))), bound)
      assert(got === unionFind(c1 ++ c2 ++ Seq((14L, 4L))))
      assert((10L to 14L).forall(got(_) == 0L), "old roots must be rewritten to the global min")
    }
  }
}
