package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** SCALE.md's partition-sizing rule as ENGINE behavior, not an env knob.
  *
  * The round-13 rehearsal proved the remedy for the key-universe memory
  * cliffs (t164's 117 GB spill at sf100, t121's +65.6 s gram-df
  * aggregation) is partitions scaled WITH the data — but every entry point
  * pinned `spark.sql.shuffle.partitions = cpus`, and AQE's partition
  * coalescing can only merge DOWN from the configured initial number, never
  * grow past it. So the fix lived in `SPARK_GRAFT_SHUFFLE_PARTITIONS`, a
  * manual knob a user at 100 TB would have to know about.
  *
  * This object derives `spark.sql.adaptive.coalescePartitions.
  * initialPartitionNum` from the INPUT corpus size before the session is
  * built: the ceiling AQE coalesces down from scales with the data
  * (SCALE.md rule: ≤ ~200 MB of exchange per reduce task for wide-row
  * hash aggregates), while `spark.sql.shuffle.partitions` stays at `cpus`
  * as the non-AQE floor. Parquet-to-exchange expansion is taken as 12×:
  * snappy row data decompresses ~3–4× on these corpora, and the heaviest
  * aggregations EXPLODE on top of that (t164's gram-df exchange measured
  * 7.4× its input parquet, 17.8 GB from 2.4 GB) — so the derivation is
  * deliberately sized to the worst measured operator, not the average
  * scan. Over-provisioning the initial number is cheap (AQE's
  * parallelism-first coalescing merges back anything under the 1 MB
  * floor); under-provisioning is the 117 GB spill.
  *
  * Small-corpus behavior is BYTE-IDENTICAL to round 13: the derived number
  * is `max(cpus, ceil(bytes·12 / 200 MB))` — i.e. one initial partition
  * per ~17 MB of input parquet — and every gate corpus (sf0.001/0.01/0.1
  * ≤ ~240 MB, edge) derives ≤ cpus, so `initialPartitionNum ==
  * shuffle.partitions` there and plans do not change. At sf100 documents
  * (2.4 GB parquet) it derives ~148 — bracketing the 128 the round-13
  * rehearsal measured as the t164 remedy; at a 100 TB corpus it derives
  * the 1M cap — what a 1000-executor cluster needs AQE to coalesce from,
  * not 32.
  *
  * Sizes are read through the Hadoop FileSystem API, so the same derivation
  * works on HDFS/S3 paths on a real cluster, not just local dirs. A
  * missing/unreadable dir derives 0 bytes → cpus, never throws: sizing must
  * not be able to fail a job that would otherwise run.
  */
object ShuffleSizing {

  /** ≤ ~200 MB of exchange per reduce task (SCALE.md, round-13 rehearsal). */
  val ExchangePerTaskBytes: Long = 200L << 20

  /** parquet → worst-case exchange expansion (measured ceiling: t164's
    * 7.4× explode on ~3–4×-decompressing snappy data; see above). */
  val ExpansionFactor: Double = 12.0

  /** Total bytes under `dir` (recursive), 0 on any error. */
  def inputBytes(dir: String): Long =
    try {
      val p = new Path(dir)
      val fs = p.getFileSystem(new Configuration())
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) total += it.next().getLen
      total
    } catch { case _: Throwable => 0L }

  /** The AQE initial (pre-coalesce) partition number for a job over `dir`:
    * never below `cpus` (small corpora keep round-13 plans exactly), grows
    * with input bytes past ~2 GB. */
  def initialPartitionNum(dir: String, cpus: Int): Int = {
    val derived =
      math.ceil(inputBytes(dir) * ExpansionFactor / ExchangePerTaskBytes.toDouble)
    math.max(cpus, math.min(derived, 1 << 20).toInt)
  }

  /** The (shuffle.partitions, initialPartitionNum) pair every graft session
    * uses: the explicit env knob (kept for controlled experiments) pins
    * BOTH; otherwise partitions stay at cpus and the initial number is
    * derived from the corpus. */
  def configs(dir: String, cpus: Int): Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt) match {
      case Some(n) => Session.sizing(n, n)
      case None => Session.sizing(cpus, initialPartitionNum(dir, cpus))
    }
}
