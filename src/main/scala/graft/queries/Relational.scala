package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The relational query surface Q1–Q22 of SURVEY.md §2.3.
  *
  * Design rules (see SURVEY.md §2.3 / FIXTURES.md §1 canonicalization):
  *   - every query ends with a total ORDER BY;
  *   - every double output is ROUND(x, 4);
  *   - money SUMs go through exact integer cents (see [[Q.centsSql]]) so the
  *     result is independent of partial-aggregation order;
  *   - COUNT-ish integer outputs are BIGINT in both engines (DuckDB SUM(int)
  *     returns HUGEINT — always CAST in the oracle).
  *
  * Scale notes (100 TB mindset): all aggregations here are partial-agg
  * friendly (map-side combine for free), joins on big×big tables use their
  * natural equi-keys (sort-merge/shuffled-hash picked by Catalyst + AQE),
  * small dims (region/nation) are broadcast explicitly. The two global-window
  * queries (q10 runs per-customer partitions; q20 is a deliberate re-expression
  * of the reference's single-sequence split-packing algorithm,
  * CopyInputFormat.java:51-77, which is inherently a prefix-sum — at cluster
  * scale it would be a two-pass range-partitioned prefix sum; see
  * graft.plan.BinPacking for the distributed variant).
  */
object Relational {

  /** Budget for t41's driver-held rank offsets (entries = parts × groups;
    * 4M entries ≈ low hundreds of MB). Package-visible so the guard's
    * failure mode is unit-testable without a 4M-group dataset. */
  private[graft] var PercentileDriverStateBudget: Long = 4000000L

  private def cents(c: Column): Column = round(c * 100, 0).cast("long")
  private def money(sumCents: Column): Column = round(sumCents.cast("double") / 100.0, 4)

  val all: Seq[Q] = Seq(
    // ----- Q1: scan + filter + project (ref ops 1,3,5) -----
    Q(
      "q01_filter_project",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") && col("l_quantity") < 10)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("net"))
          // net is in the ORDER BY because (l_orderkey, l_linenumber) is NOT
          // unique in the shipped data (509 ambiguous tie groups survive the
          // filter at sf0.01 alone) — without it the output order is an
          // engine-internal accident and the row-by-row oracle compare only
          // passes while both engines happen to break ties identically (the
          // sf1 gate caught exactly that)
          .orderBy("l_orderkey", "l_linenumber", "net"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  ROUND(l_extendedprice * (1.0 - l_discount), 4) AS net
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity < 10
             |ORDER BY l_orderkey, l_linenumber, net""".stripMargin),
    ),

    // ----- Q2: hash aggregation, TPC-H Q1 shape -----
    Q(
      "q02_agg_pricing",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            count(lit(1)).as("cnt"),
            money(sum(cents(col("l_quantity")))).as("sum_qty"),
            money(sum(cents(col("l_extendedprice")))).as("sum_price"),
            round(sum(cents(col("l_extendedprice"))).cast("double") / 100.0 / count(lit(1)), 4).as("avg_price"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
             |  ROUND(SUM(CAST(ROUND(l_quantity*100) AS BIGINT))/100.0, 4) AS sum_qty,
             |  ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0, 4) AS sum_price,
             |  ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0/COUNT(*), 4) AS avg_price
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    ),

    // ----- Q3: equi inner join (shuffle join on the big side) -----
    Q(
      "q03_join_agg",
      (s, d) =>
        Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), money(sum(cents(col("o_totalprice")))).as("revenue"))
          .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
             |  ROUND(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0, 4) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    ),

    // ----- Q4: broadcast join of small dims -----
    Q(
      "q04_broadcast_join",
      (s, d) =>
        Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"))
          .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |ORDER BY r_name, n_name""".stripMargin),
    ),

    // ----- Q5: multi-way join (fact ⋈ dim chain, dims broadcast) -----
    Q(
      "q05_multiway_join",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n_orders"), money(sum(cents(col("o_totalprice")))).as("revenue"))
          .orderBy("r_name"),
      Some("""SELECT r_name, COUNT(*) AS n_orders,
             |  ROUND(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0, 4) AS revenue
             |FROM customer
             |JOIN orders ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin),
    ),

    // ----- Q6: left outer join -----
    Q(
      "q06_left_outer",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy("c_custkey")
          .limit(100),
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
             |GROUP BY c_custkey ORDER BY c_custkey LIMIT 100""".stripMargin),
    ),

    // ----- Q7: left semi join (EXISTS; ref op 6's "present on both sides") -----
    Q(
      "q07_semi_join",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin),
    ),

    // ----- Q8: left anti join (ref op 9 delete-sync) -----
    Q(
      "q08_anti_join",
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin),
    ),

    // ----- Q9: window ranking, top-3 per group -----
    Q(
      "q09_window_rank",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
            round(col("o_totalprice"), 4).as("price"))
          .orderBy("o_orderpriority", "rn")
      },
      Some("""SELECT o_orderpriority, rn, o_orderkey, ROUND(o_totalprice, 4) AS price
             |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             |        ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |      FROM orders)
             |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin),
    ),

    // ----- Q10: running sum window frame (ref op 5 cumulative limits) -----
    Q(
      "q10_running_sum",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            money(sum(cents(col("o_totalprice"))).over(w)).as("run_total"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  ROUND(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
             |          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0, 4) AS run_total
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    ),

    // ----- Q11: global top-k (TakeOrderedAndProject) -----
    Q(
      "q11_topk",
      (s, d) =>
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), round(col("l_extendedprice"), 4).as("price"))
          .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(50),
      Some("""SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 4) AS price
             |FROM lineitem
             |ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 50""".stripMargin),
    ),

    // ----- Q12: exact distinct counts -----
    Q(
      "q12_distinct",
      (s, d) => {
        val a = Tables.orders(s, d).agg(countDistinct(col("o_custkey")).as("n_cust"))
        val b = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_linestatus"))
          .distinct().agg(count(lit(1)).as("n_flag_pairs"))
        a.crossJoin(b)
      },
      Some("""SELECT (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_cust,
             |  (SELECT COUNT(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)) AS n_flag_pairs""".stripMargin),
    ),

    // ----- Q13: set operations -----
    Q(
      "q13_setops",
      (s, d) => {
        val withOrders = Tables.orders(s, d).select(col("o_custkey").as("k"))
        val allCust = Tables.customer(s, d).select(col("c_custkey").as("k"))
        val inter = allCust.intersect(withOrders).withColumn("op", lit("intersect"))
        val exc = allCust.except(withOrders).withColumn("op", lit("except"))
        inter.unionByName(exc).select(col("op"), col("k")).orderBy("op", "k")
      },
      Some("""SELECT 'intersect' AS op, k FROM
             |  (SELECT c_custkey AS k FROM customer INTERSECT SELECT o_custkey FROM orders)
             |UNION ALL
             |SELECT 'except' AS op, k FROM
             |  (SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey FROM orders)
             |ORDER BY op, k""".stripMargin),
    ),

    // ----- Q14: rollup with grouping markers -----
    Q(
      "q14_rollup",
      (s, d) =>
        // grouping markers in the output (the t59 pattern): COALESCE('ALL')
        // alone conflates a subtotal row with a genuine NULL data value and
        // makes the ORDER BY non-total — the markers restore a total order
        // and let readers tell the two apart
        Tables.lineitem(s, d)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping(col("l_returnflag")).cast("int").as("g_rf"),
            grouping(col("l_linestatus")).cast("int").as("g_ls"),
            count(lit(1)).as("cnt"), money(sum(cents(col("l_quantity")))).as("sum_qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("g_rf"), col("g_ls"), col("cnt"), col("sum_qty"))
          .orderBy("g_rf", "g_ls", "rf", "ls"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
             |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
             |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
             |  COUNT(*) AS cnt,
             |  ROUND(SUM(CAST(ROUND(l_quantity*100) AS BIGINT))/100.0, 4) AS sum_qty
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY g_rf, g_ls, rf, ls""".stripMargin),
    ),

    // ----- Q15: string functions (ref ops 3,4 regex selection) -----
    Q(
      "q15_string_funcs",
      (s, d) =>
        // group directly on the projected/sorted key: grouping on raw
        // p_brand but emitting upper(p_brand) would produce duplicate
        // brand_u rows (non-total ORDER BY → flaky hash) if two brands
        // ever differ only in case
        Tables.part(s, d)
          .groupBy(upper(col("p_brand")).as("brand_u"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(when(col("p_name").like("%re%"), 1L).otherwise(0L)).as("n_re"),
            sum(when(col("p_name").rlike("^(red|blue|green)"), 1L).otherwise(0L)).as("n_color"),
            sum(length(col("p_name")).cast("long")).as("total_len"),
            min(substring(col("p_type"), 1, 3)).as("type_pfx"))
          .orderBy("brand_u"),
      Some("""SELECT UPPER(p_brand) AS brand_u, COUNT(*) AS cnt,
             |  CAST(SUM(CASE WHEN p_name LIKE '%re%' THEN 1 ELSE 0 END) AS BIGINT) AS n_re,
             |  CAST(SUM(CASE WHEN regexp_matches(p_name, '^(red|blue|green)') THEN 1 ELSE 0 END) AS BIGINT) AS n_color,
             |  CAST(SUM(LENGTH(p_name)) AS BIGINT) AS total_len,
             |  MIN(SUBSTR(p_type, 1, 3)) AS type_pfx
             |FROM part GROUP BY UPPER(p_brand) ORDER BY brand_u""".stripMargin),
    ),

    // ----- Q16: date/time functions -----
    Q(
      "q16_datetime",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(date_trunc("month", col("o_orderdate")).as("o_month"))
          .agg(
            min(year(col("o_orderdate")).cast("long")).as("o_year"),
            count(lit(1)).as("n_orders"),
            money(sum(cents(col("o_totalprice")))).as("revenue"))
          .orderBy("o_month"),
      Some("""SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS o_month,
             |  CAST(MIN(EXTRACT(YEAR FROM o_orderdate)) AS BIGINT) AS o_year,
             |  COUNT(*) AS n_orders,
             |  ROUND(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))/100.0, 4) AS revenue
             |FROM orders GROUP BY DATE_TRUNC('month', o_orderdate)
             |ORDER BY o_month""".stripMargin),
    ),

    // ----- Q17: conditional + math -----
    Q(
      "q17_conditional_math",
      (s, d) =>
        Tables.lineitem(s, d)
          .withColumn("band",
            when(col("l_extendedprice") < 20000, "low")
              .when(col("l_extendedprice") < 60000, "mid")
              .otherwise("high"))
          .groupBy(col("band"))
          .agg(
            count(lit(1)).as("cnt"),
            money(sum(cents(col("l_extendedprice")))).as("sum_price"),
            sum(floor(col("l_quantity")).cast("long") % 7).as("mod7_sum"),
            money(sum(cents(abs(col("l_extendedprice") - 40000.0)))).as("sum_absdev"))
          .orderBy("band"),
      Some("""SELECT CASE WHEN l_extendedprice < 20000 THEN 'low'
             |            WHEN l_extendedprice < 60000 THEN 'mid'
             |            ELSE 'high' END AS band,
             |  COUNT(*) AS cnt,
             |  ROUND(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT))/100.0, 4) AS sum_price,
             |  CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT) % 7) AS BIGINT) AS mod7_sum,
             |  ROUND(SUM(CAST(ROUND(ABS(l_extendedprice - 40000.0)*100) AS BIGINT))/100.0, 4) AS sum_absdev
             |FROM lineitem GROUP BY 1 ORDER BY band""".stripMargin),
    ),

    // ----- Q18: tumbling event-time window (batch analog of streaming agg) -----
    Q(
      "q18_event_window",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(col("user_id"), window(col("ts_us"), "1 hour"))
          .agg(count(lit(1)).as("n_events"), money(sum(cents(col("value")))).as("sum_value"))
          .select(col("user_id"), col("window.start").as("win_start"), col("n_events"), col("sum_value"))
          .orderBy("user_id", "win_start"),
      Some("""SELECT user_id,
             |  time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start,
             |  COUNT(*) AS n_events,
             |  ROUND(SUM(CAST(ROUND(value*100) AS BIGINT))/100.0, 4) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY user_id, win_start""".stripMargin),
    ),

    // ----- Q19: sessionization via lag + cumulative sum -----
    Q(
      "q19_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
        val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("prev_ns", lag(col("ts_ns"), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_ns").isNull || (col("ts_ns") - col("prev_ns")) > lit(1800000000000L), 1L)
              .otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(cum))
          .groupBy(col("user_id"))
          .agg(max(col("sess_id")).as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH t AS (
             |  SELECT user_id, event_id, epoch_ns(ts) AS ts_n,
             |         LAG(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_n
             |  FROM events),
             |s AS (
             |  SELECT user_id,
             |         SUM(CASE WHEN prev_n IS NULL OR ts_n - prev_n > 1800000000000 THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY user_id ORDER BY ts_n, event_id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
             |  FROM t)
             |SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
             |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ----- Q20: bin-packing bucket assignment (ref op 10, CopyInputFormat.java:51-77) -----
    Q(
      "q20_binpack",
      (s, d) => {
        // Global cumulative sum WITHOUT a single-partition window (the r1/r2
        // formulation used Window.orderBy with no partitionBy — every row
        // through one task): operators.PrefixSum.runningBefore, the shared
        // two-pass range-partitioned scheme the copy planner's
        // graft.plan.Planner.assignBuckets also packs with. Weights are exact
        // integer cents, so the distributed sum is bit-identical to the
        // oracle's sequential window.
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select(
            cents(col("l_extendedprice")).as("c"),
            col("l_orderkey").cast("long").as("k1"),
            col("l_linenumber").cast("long").as("k2"))
          .as[(Long, Long, Long)]
        graft.operators.PrefixSum
          .runningBefore(li, s.sparkContext.defaultParallelism, Seq(col("k1"), col("k2")))(_._1) {
            case ((c, _, _), before, total) =>
              val target = total / 32 + 1
              (math.max(before + c - 1, 0L) / target, c)
          }
          .toDF("bucket", "c")
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"), money(sum(col("c"))).as("bucket_weight"))
          .orderBy("bucket")
      },
      Some("""WITH t AS (
             |  SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) AS c, l_orderkey, l_linenumber
             |  FROM lineitem),
             |w AS (
             |  SELECT c,
             |         SUM(c) OVER (ORDER BY l_orderkey, l_linenumber
             |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |         SUM(c) OVER () AS total
             |  FROM t)
             |SELECT CAST(GREATEST(cum - 1, 0) // (total // 32 + 1) AS BIGINT) AS bucket,
             |       COUNT(*) AS n_rows,
             |       ROUND(CAST(SUM(c) AS DOUBLE)/100.0, 4) AS bucket_weight
             |FROM w GROUP BY 1 ORDER BY bucket""".stripMargin),
    ),

    // ----- Q21: duplicate detection (ref op 8 duplicate-destination check) -----
    Q(
      "q21_dup_detect",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(col("o_custkey"), col("o_orderdate").cast("date").as("o_day"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1)
          .orderBy("o_custkey", "o_day"),
      Some("""SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_day, COUNT(*) AS cnt
             |FROM orders GROUP BY 1, 2 HAVING COUNT(*) > 1
             |ORDER BY o_custkey, o_day""".stripMargin),
    ),

    // ----- Q22: full-outer snapshot diff (ref op 6 update semantics) -----
    Q(
      "q22_fullouter_diff",
      (s, d) => {
        val o = Tables.orders(s, d)
        val old = o.filter(col("o_orderkey") % 3 =!= 0).select(col("o_orderkey").as("k_old"))
        val neu = o.filter(col("o_orderkey") % 5 =!= 0).select(col("o_orderkey").as("k_new"))
        old.join(neu, col("k_old") === col("k_new"), "full")
          .select(
            when(col("k_old").isNull, "only_dst")
              .when(col("k_new").isNull, "only_src")
              .otherwise("both").as("status"))
          .groupBy(col("status")).agg(count(lit(1)).as("cnt"))
          .orderBy("status")
      },
      Some("""WITH old AS (SELECT o_orderkey AS k_old FROM orders WHERE o_orderkey % 3 <> 0),
             |     new AS (SELECT o_orderkey AS k_new FROM orders WHERE o_orderkey % 5 <> 0)
             |SELECT CASE WHEN k_old IS NULL THEN 'only_dst'
             |            WHEN k_new IS NULL THEN 'only_src'
             |            ELSE 'both' END AS status,
             |       COUNT(*) AS cnt
             |FROM old FULL JOIN new ON k_old = k_new
             |GROUP BY 1 ORDER BY status""".stripMargin),
    ),

    // ----- column profiling: row/distinct/null counts per column -----
    // The data-quality / optimizer-stats primitive. One two-phase aggregate
    // branch per column, unioned: each branch scans ONLY its column (parquet
    // is columnar — 5 single-column scans read the same bytes as one 5-column
    // scan) and runs a plain single-distinct aggregate. The tempting
    // alternative — all five count_distincts in ONE agg — forces Catalyst's
    // multi-distinct Expand (6× row multiplication before aggregation) and
    // measures 2× slower at sf0.1 (1.2 s vs 0.6 s steady-state); the Expand
    // blowup also only worsens with row count at 100 TB. All branches
    // execute inside a single Spark job.
    Q(
      "t51_profile",
      (s, d) =>
        Seq("l_orderkey", "l_partkey", "l_returnflag", "l_shipdate", "l_suppkey")
          .map { c =>
            Tables.lineitem(s, d).agg(
                count(lit(1)).as("n_rows"),
                count_distinct(col(c)).as("n_distinct"),
                sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"))
              .select(lit(c).as("col_name"), col("n_rows"), col("n_distinct"), col("n_null"))
          }
          .reduce(_ unionByName _)
          .orderBy("col_name"),
      Some("""SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows,
             |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
             |  CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_null FROM lineitem
             |UNION ALL
             |SELECT 'l_partkey', COUNT(*), CAST(COUNT(DISTINCT l_partkey) AS BIGINT),
             |  CAST(COUNT(*) - COUNT(l_partkey) AS BIGINT) FROM lineitem
             |UNION ALL
             |SELECT 'l_returnflag', COUNT(*), CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
             |  CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT) FROM lineitem
             |UNION ALL
             |SELECT 'l_shipdate', COUNT(*), CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
             |  CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT) FROM lineitem
             |UNION ALL
             |SELECT 'l_suppkey', COUNT(*), CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
             |  CAST(COUNT(*) - COUNT(l_suppkey) AS BIGINT) FROM lineitem
             |ORDER BY col_name""".stripMargin),
    ),

    // ----- semi-structured JSON extraction from the events.props column -----
    Q(
      "t39_json_props",
      (s, d) =>
        Tables.events(s, d)
          // try_cast, NOT .cast: under ANSI mode (the Spark 4 default) a
          // hard cast THROWS on a non-numeric $.k — one '{"k": "str"}'
          // event would kill the whole job (edge-gate finding, EDGE.md).
          // from_json with Jackson's leniency flags OFF, not
          // get_json_object: get_json_object hard-enables
          // ALLOW_SINGLE_QUOTES / ALLOW_UNESCAPED_CONTROL_CHARS for Hive
          // compatibility, so {'k': 5} parses on the Spark side while the
          // oracle's strict json_valid quarantines it to NULL (ADVICE,
          // round 14). The operator contract is SPEC-strict JSON:
          // leniently-malformed props quarantine to NULL on both engines.
          .withColumn("k", expr(
            "try_cast(from_json(props, 'k STRING', map(" +
              "'allowSingleQuotes','false'," +
              "'allowUnquotedFieldNames','false'," +
              "'allowUnquotedControlChars','false'," +
              "'allowComments','false'," +
              "'allowNumericLeadingZeros','false'," +
              "'allowNonNumericNumbers','false'," +
              "'allowBackslashEscapingAnyCharacter','false')).k AS LONG)"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
          .orderBy("event_type"),
      // TRY_CAST, not CAST: a hard CAST would ABORT the DuckDB query on a
      // non-numeric $.k — the oracle must share the Spark side's
      // null-on-bad-value semantics, not turn it into an error.
      // json_valid guard for the same reason one level up (edge-gate
      // finding, EDGE.md): Spark's get_json_object returns NULL on
      // MALFORMED json while DuckDB's json_extract_string THROWS — and a
      // crawl-scale event stream WILL contain malformed props; the
      // operator contract is quarantine-to-NULL, never crash-the-job.
      Some("""WITH k AS (
             |  SELECT event_type,
             |    CASE WHEN json_valid(props)
             |         THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
             |  FROM events)
             |SELECT event_type, COUNT(*) AS n_events,
             |  CAST(SUM(k) AS BIGINT) AS sum_k,
             |  CAST(MIN(k) AS BIGINT) AS min_k,
             |  CAST(MAX(k) AS BIGINT) AS max_k
             |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin),
    ),

    // ----- supplier dimension rollup (closes supplier-table coverage) -----
    Q(
      "t40_supplier_stats",
      (s, d) =>
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            count(lit(1)).as("n_suppliers"),
            money(sum(cents(col("s_acctbal")))).as("total_acctbal"))
          .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name, COUNT(*) AS n_suppliers,
             |  ROUND(SUM(CAST(ROUND(s_acctbal*100) AS BIGINT))/100.0, 4) AS total_acctbal
             |FROM supplier
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),
    ),

    // ----- exact percentiles (linear interpolation in both engines) -----
    Q(
      "t41_percentiles",
      (s, d) => {
        // Exact quantiles WITHOUT buffering every value per group: Spark's
        // `percentile` is an ObjectHashAggregate holding a per-group value
        // buffer (wrong at 100 TB, and 59× the oracle at sf0.1). Instead, a
        // sort-based two-pass ordered selection over the q20 prefix-sum
        // machinery:
        //   1. range-partition by (group, value), sort within partitions —
        //      a distributed sort, never one task per group;
        //   2. per-(partition, group) counts → driver folds them into global
        //      rank offsets and per-group totals (O(parts × groups) longs —
        //      group cardinality must be driver-small, which a percentile
        //      REPORT implies anyway: one output row per group);
        //   3. one more pass emits only the rows whose global in-group rank
        //      is a needed order statistic (⌊p⌋/⌈p⌉ per quantile, 0, n-1).
        // Interpolation is v_lo·(⌈p⌉−p) + v_hi·(p−⌊p⌋) — DuckDB
        // quantile_cont's own form; Spark's percentile uses lo+(hi−lo)·frac,
        // which can differ in the last ulp, so agreement with it holds only
        // after the ROUND(…,4) canonicalization (verified on the test data).
        import s.implicits._
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
          .as[(String, Double)]
        val parts = s.sparkContext.defaultParallelism
        val ranged = li.repartitionByRange(parts, col("g"), col("v"))
          .sortWithinPartitions("g", "v")
          .localCheckpoint()
        // driver state will be O(parts + groups) run entries — fine for a
        // percentile REPORT over ≤ thousands of groups; a high-cardinality
        // group column routes to the fully distributed path instead. The
        // route decision must run BEFORE the entries are collected (a
        // post-collect check can't prevent the OOM it documents), so a
        // cheap pre-pass ships one Long per partition: partitions are
        // sorted by (g, v), so the group count is a run count, no map
        // materialized anywhere.
        val stateEntries = ranged
          .mapPartitions { it =>
            var n = 0L; var prev: String = null; var first = true
            it.foreach { case (g, _) =>
              if (first || g != prev) { n += 1L; prev = g; first = false }
            }
            Iterator.single(n)
          }
          .collect().sum
        if (stateEntries > Relational.PercentileDriverStateBudget) {
          // past the driver-state budget: same two-pass ordered selection,
          // but rank offsets and selection both stay on executors
          // (operators.GroupedQuantiles — zero driver state, no per-group
          // single-task sort), so a 10⁶-group column degrades to a slower
          // distributed plan instead of a require() wall. Identical output
          // (same interpolation form) — proven in GroupedQuantilesSpec by
          // forcing the budget to 1 and comparing the two paths. The
          // already-ranged, sorted, checkpointed frame is handed over
          // as-is — the fallback must not redo the full distributed sort
          // on exactly the path chosen for being huge.
          graft.operators.GroupedQuantiles
            .exactRanged(ranged, "l_returnflag", Seq(0.5, 0.9))
            .select(
              col("l_returnflag"), col("cnt"),
              round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
              round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"))
            .orderBy("l_returnflag")
        } else {
        val partCounts: Array[Array[(String, Long)]] = ranged
          .mapPartitions { it =>
            val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
            it.foreach { case (g, _) => m.update(g, m.getOrElse(g, 0L) + 1L) }
            Iterator.single(m.toArray)
          }
          .collect()
        val totals = scala.collection.mutable.Map.empty[String, Long]
        val offsets: Array[Map[String, Long]] = partCounts.map { pc =>
          val off = pc.map { case (g, _) => g -> totals.getOrElse(g, 0L) }.toMap
          pc.foreach { case (g, c) => totals.update(g, totals.getOrElse(g, 0L) + c) }
          off
        }
        val quantiles = Seq(0.5, 0.9)
        val needed: Map[String, Set[Long]] = totals.iterator.map { case (g, n) =>
          val qRanks = quantiles.flatMap { q =>
            val pos = q * (n - 1)
            Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
          }
          g -> (qRanks ++ Seq(0L, n - 1)).toSet
        }.toMap
        val bOff = s.sparkContext.broadcast(offsets)
        val bNeed = s.sparkContext.broadcast(needed)
        val picked: Map[String, Map[Long, Double]] = ranged
          .mapPartitions { it =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val rk = scala.collection.mutable.Map.empty[String, Long] ++ bOff.value(pid)
            val need = bNeed.value
            it.flatMap { case (g, v) =>
              val r = rk(g)
              rk.update(g, r + 1L)
              if (need(g).contains(r)) Iterator.single((g, r, v)) else Iterator.empty
            }
          }
          .collect()
          .groupBy(_._1)
          .map { case (g, arr) => g -> arr.map(t => t._2 -> t._3).toMap }
        // that collect was the checkpoint's AND the broadcasts' last use —
        // the returned frame is built from driver-side rows, so release the
        // cached blocks and broadcast blocks now (the harness RDD sweep
        // doesn't cover broadcasts; undisposed ones linger until GC)
        ranged.unpersist(blocking = false)
        bOff.destroy()
        bNeed.destroy()
        def interp(g: String, q: Double): Double = {
          val n = totals(g)
          val pos = q * (n - 1)
          val lo = math.floor(pos).toLong
          val hi = math.ceil(pos).toLong
          if (lo == hi) picked(g)(lo)
          else picked(g)(lo) * (hi - pos) + picked(g)(hi) * (pos - lo)
        }
        val rows = totals.keys.toSeq.sorted.map { g =>
          (g, totals(g), interp(g, 0.5), interp(g, 0.9), picked(g)(0L), picked(g)(totals(g) - 1))
        }
        s.createDataset(rows)
          .toDF("l_returnflag", "cnt", "p50r", "p90r", "lor", "hir")
          .select(
            col("l_returnflag"), col("cnt"),
            round(col("p50r"), 4).as("p50"), round(col("p90r"), 4).as("p90"),
            round(col("lor"), 4).as("lo"), round(col("hir"), 4).as("hi"))
          .orderBy("l_returnflag")
        }
      },
      Some("""SELECT l_returnflag, COUNT(*) AS cnt,
             |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |  ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
             |  ROUND(MIN(l_extendedprice), 4) AS lo,
             |  ROUND(MAX(l_extendedprice), 4) AS hi
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),

    // ----- t163: exact grouped quantiles, fully distributed path -----
    // The zero-driver-state operator behind t41's past-budget route, under
    // the oracle gate in its own right: exact p50/p90/min/max of
    // l_extendedprice per l_suppkey via operators.GroupedQuantiles — the
    // two-pass range-partitioned ordered selection (window-computed rank
    // offsets, pid-keyed zipPartitions lookup delivery), NEVER a per-group
    // value buffer or a driver fold. t41 proves the driver path and the
    // route; this proves the distributed arithmetic end-to-end against
    // DuckDB's quantile_cont (same interpolation form, so agreement holds
    // under the standard ROUND(…,4) canonicalization). 100 groups at
    // sf0.01 — small here, but the plan is the one that survives 10⁶
    // groups by construction (GroupedQuantilesSpec runs it at 20k).
    Q(
      "t163_grouped_quantiles",
      (s, d) =>
        graft.operators.GroupedQuantiles
          .exact(
            Tables.lineitem(s, d).select(col("l_suppkey"), col("l_extendedprice")),
            "l_suppkey", "l_extendedprice", Seq(0.5, 0.9),
            s.sparkContext.defaultParallelism)
          .select(
            col("l_suppkey").cast("long").as("l_suppkey"), col("cnt"),
            round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
            round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"))
          .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey, COUNT(*) AS cnt,
             |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
             |  ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
             |  ROUND(MIN(l_extendedprice), 4) AS lo,
             |  ROUND(MAX(l_extendedprice), 4) AS hi
             |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
    ),

    // ----- pivot (wide aggregation by category value) -----
    Q(
      "t42_pivot",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_linestatus"))
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .select(col("l_linestatus"), col("A").as("cnt_a"), col("N").as("cnt_n"), col("R").as("cnt_r"))
          .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
             |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_n,
             |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_r
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
    ),

    // ----- full cube with grouping markers -----
    Q(
      "t43_cube",
      (s, d) =>
        // grouping markers as in q14: subtotal vs genuine-NULL rows stay
        // distinguishable and the ORDER BY stays total
        Tables.lineitem(s, d)
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping(col("l_returnflag")).cast("int").as("g_rf"),
            grouping(col("l_linestatus")).cast("int").as("g_ls"),
            count(lit(1)).as("cnt"), money(sum(cents(col("l_quantity")))).as("sum_qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("g_rf"), col("g_ls"), col("cnt"), col("sum_qty"))
          .orderBy("g_rf", "g_ls", "rf", "ls"),
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
             |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
             |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
             |  COUNT(*) AS cnt,
             |  ROUND(SUM(CAST(ROUND(l_quantity*100) AS BIGINT))/100.0, 4) AS sum_qty
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY g_rf, g_ls, rf, ls""".stripMargin),
    ),

    // ----- array/higher-order functions over the embedding column -----
    Q(
      "t44_array_funcs",
      (s, d) =>
        // null semantics pinned to the oracle's list_sum: NULL elements are
        // SKIPPED (filter before the fold), and an empty or all-null list
        // yields NULL, where a bare aggregate() would NULL-propagate on the
        // first NULL element and return 0 for empty — both probed against
        // DuckDB. n_pos needs only the empty-list guard: IF(NULL > 0, 1, 0)
        // already evaluates to 0 on both engines.
        Tables.embeddings(s, d)
          .filter(col("vec_id") < 50)
          .select(
            col("vec_id"),
            size(col("embedding")).cast("long").as("dim"),
            round(expr(
              """CASE WHEN size(filter(embedding, x -> x IS NOT NULL)) > 0
                |THEN aggregate(filter(embedding, x -> x IS NOT NULL),
                |               CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)) END""".stripMargin), 4).as("vsum"),
            round(expr(
              """CASE WHEN size(filter(slice(embedding, 1, 8), x -> x IS NOT NULL)) > 0
                |THEN aggregate(filter(slice(embedding, 1, 8), x -> x IS NOT NULL),
                |               CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE)) END""".stripMargin), 4).as("head_sum"),
            expr("""CASE WHEN size(embedding) > 0
                   |THEN CAST(aggregate(embedding, 0, (a, x) -> a + IF(x > 0, 1, 0)) AS BIGINT) END""".stripMargin).as("n_pos"))
          .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |  CAST(len(embedding) AS BIGINT) AS dim,
             |  ROUND(list_sum(CAST(embedding AS DOUBLE[])), 4) AS vsum,
             |  ROUND(list_sum(CAST(embedding[1:8] AS DOUBLE[])), 4) AS head_sum,
             |  CAST(list_sum(list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_pos
             |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin),
    ),

    // ----- ordered string aggregation -----
    Q(
      "t45_string_agg",
      (s, d) =>
        Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(expr("array_join(array_sort(collect_list(n_name)), ',')").as("nations"))
          .orderBy("r_name"),
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin),
    ),
  )
}
