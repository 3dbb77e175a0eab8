package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Tracks the persistent RDD ids a `localCheckpoint()` creates so iterative
  * operators can free superseded per-round state. `Dataset.unpersist()` is
  * a NO-OP for checkpoint blocks — it only consults the cache manager, and
  * localCheckpoint pins RDDs the manager never sees — so a loop that
  * checkpoints each round would otherwise accumulate one full copy of its
  * state per round until the session's storage fills (the Verify/Bench
  * harness sweeps `getPersistentRDDs` between queries, but library callers
  * get no such sweep). Shared by the connected-components fixpoint, the
  * BPE trainer, and the PCA power iteration.
  */
private[graft] final class CkTracker(sc: SparkContext) {

  def this(df: DataFrame) = this(df.sparkSession.sparkContext)

  /** Checkpoint eagerly and return the new frame plus the RDD ids the
    * checkpoint pinned (blocks exist on return, so the id diff is exact). */
  def ck(df: DataFrame): (DataFrame, Seq[Int]) = {
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint()
    (out, (sc.getPersistentRDDs.keySet -- before).toSeq)
  }

  /** Checkpoint LAZILY and materialize through a count — the count's job
    * computes and pins the checkpoint blocks (RDD.doCheckpoint cascades
    * through the lineage at job end), so a loop that needs its per-round
    * cardinality anyway pays ONE action where eager-ck-then-count paid two.
    * The count is an RDD count of the checkpointed rows: one job, where
    * `Dataset.count` adds an aggregate exchange (a second job under AQE).
    * Returns (frame, pinned ids, count). */
  def ckCount(df: DataFrame): (DataFrame, Seq[Int], Long) = {
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(eager = false)
    val cnt = out.queryExecution.toRdd.count()
    (out, (sc.getPersistentRDDs.keySet -- before).toSeq, cnt)
  }

  /** Free previously tracked checkpoint blocks. */
  def free(ids: Seq[Int]): Unit = {
    val live = sc.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }
}
