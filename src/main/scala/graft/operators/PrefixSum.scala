package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders}

/** Exact global prefix sums over a totally-ordered Dataset with NO
  * single-partition stage — the scheme behind q20's bin packing, t119's
  * global vocabulary rank, t120's corpus token offsets, and the copy
  * planner's size-weighted bucket assignment
  * ([[graft.plan.Planner.assignBuckets]]); t41 keeps its own per-GROUP
  * variant:
  *
  *  1. range-partition by the traversal key and sort within partitions;
  *  2. one pass folds a per-partition weight total — the driver holds
  *     #partitions Longs, never rows — and scanLeft turns them into
  *     partition start offsets, broadcast back;
  *  3. each partition derives its rows' exact global running values
  *     locally, indexing the offsets by its RDD partition index — NOT
  *     `TaskContext.getPartitionId`, which a later union shifts by the
  *     other side's partition count.
  *
  * Weights are Longs, so the distributed sums are bit-identical to a
  * sequential fold. The returned Dataset is built on localCheckpoint'ed
  * blocks that must survive into the consuming plan (the second pass
  * reads them), so this helper cannot unpersist them itself — Bench and
  * Verify sweep `getPersistentRDDs` after each query's action. The
  * checkpoint also trades lineage for speed: block loss fails the query
  * instead of recomputing.
  */
object PrefixSum {

  /** Map each row with its exclusive running total. `f` receives
    * (row, sumOfAllEarlierWeights, grandTotal). */
  def runningBefore[T, U](
      ds: Dataset[T],
      parts: Int,
      sortCols: Seq[Column])(
      weight: T => Long)(
      f: (T, Long, Long) => U)(implicit encU: Encoder[U]): Dataset[U] = {
    val ranged = ds.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint()
    val partTotals = ranged
      .mapPartitions(it => Iterator.single(it.foldLeft(0L)((a, r) => a + weight(r))))(Encoders.scalaLong)
      .collect()
    val offsets = partTotals.scanLeft(0L)(_ + _)
    val total = offsets.last
    val bOff = ds.sparkSession.sparkContext.broadcast(offsets)
    implicit val ctU: ClassTag[U] = encU.clsTag
    ds.sparkSession.createDataset(
      ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
        var cum = bOff.value(pid)
        it.map { r =>
          val before = cum
          cum += weight(r)
          f(r, before, total)
        }
      })
  }
}
