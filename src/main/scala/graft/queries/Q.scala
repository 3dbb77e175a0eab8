package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One testable engine capability: a Spark DataFrame builder plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle query over the
  * same parquet tables. Column names/types and total ordering must match
  * between the two — the driver hash-compares canonicalized output.
  *
  * NOTE: `build` is not guaranteed to be lazy plan construction. Queries
  * built on eager machinery — the two-pass prefix sums (q20, t41), the
  * connected-components operator (t49: an edge count, then a collect or
  * the per-round fixpoint counts), and anything calling
  * localCheckpoint() (t30-t32, t37/t38) — run Spark jobs inside `build`:
  * repartition sampling, checkpoint materialization, collects, per-round
  * convergence counts. Timers must wrap the whole call (Bench does), and
  * explain-style tooling should expect jobs to fire.
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)

object Q {
  /** SUM over money doubles must not depend on float summation order (Spark
    * partial-aggregates per partition; DuckDB sums sequentially). The test
    * tables carry 2-decimal values, so `CAST(ROUND(x*100) AS BIGINT)` is an
    * exact integer-cents representation in both engines and integer sums are
    * order-independent. Rendered back as ROUND(sum/100.0, 4).
    */
  val centsSql = "CAST(ROUND(%s*100) AS BIGINT)"
}
