package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational operator surface (SURVEY.md §2.9): scans with
  * filter/projection pushdown, broadcast + shuffle joins, hash aggregation,
  * rollup, windows, top-k, set ops, semi/anti joins, sessionization.
  *
  * Scale notes (100 TB design stance):
  *  - dimension tables (region/nation/part/supplier/customer at small SF)
  *    are broadcast explicitly; fact-fact joins shuffle on their keys and
  *    rely on AQE for skew handling;
  *  - all aggregates are partial-aggregable (sum/count/min/max) so
  *    map-side combine happens before the shuffle;
  *  - no collect() on the data path; top-k uses sort+limit which Spark
  *    executes as TakeOrderedAndProject (per-partition heap, no full sort).
  *
  * Double-typed aggregates are rounded on BOTH sides so the DuckDB oracle
  * hash-matches despite non-associative float summation order.
  */
object Relational {
  import Catalog.{Entry, Q}

  private def li(s: SparkSession, dir: String)  = Tables.load(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String) = Tables.load(s, dir, "orders")
  private def cust(s: SparkSession, dir: String) = Tables.load(s, dir, "customer")

  // ------------------------------------------------------------------
  // q1_agg — TPC-H Q1 flavor: hash aggregate with map-side combine.
  private val q1: Q = (s, dir) =>
    li(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= DATE '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------------
  // q6_filter — TPC-H Q6 flavor: tight filter + single global aggregate.
  // Predicates push to the parquet scan (PushedFilters on l_shipdate via
  // date cast, l_discount, l_quantity).
  private val q6: Q = (s, dir) =>
    li(s, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") <  lit("1997-01-01").cast("date") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  private val q6Sql =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ------------------------------------------------------------------
  // q3_join_agg — fact-fact shuffle join + broadcast dimension chain:
  // lineitem ⋈ orders (shuffle on orderkey) ⋈ customer ⋈ nation ⋈ region
  // (broadcast). Revenue per nation.
  private val q3: Q = (s, dir) => {
    val nation = broadcast(Tables.load(s, dir, "nation"))
    val region = broadcast(Tables.load(s, dir, "region"))
    li(s, dir)
      .join(ord(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(cust(s, dir), col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  private val q3Sql =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  // ------------------------------------------------------------------
  // q_topk — deterministic top-k: TakeOrderedAndProject, no full sort.
  private val qTopK: Q = (s, dir) =>
    ord(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))

  private val qTopKSql =
    """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // q_window_rank — row_number over (customer, price desc); top-2 orders
  // per customer. One shuffle on o_custkey.
  private val qWindow: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    ord(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("rk"))
  }

  private val qWindowSql =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rk
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |  FROM orders) t
      |WHERE rk <= 2""".stripMargin

  // ------------------------------------------------------------------
  // q_semijoin — customers having at least one open ('O') order.
  private val qSemi: Q = (s, dir) =>
    cust(s, dir)
      .join(ord(s, dir).filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  private val qSemiSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin

  // ------------------------------------------------------------------
  // q_antijoin — customers with no URGENT order. (Every customer has
  // SOME order at gate scale, so anti-joining against all orders
  // matched vacuously on 0 rows; the priority filter guarantees a
  // non-empty result — 18 rows at sf0.001, 203 at sf0.01 — that a
  // wrong join type or flipped filter would visibly break.)
  private val qAnti: Q = (s, dir) =>
    cust(s, dir)
      .join(ord(s, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))

  private val qAntiSql =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')""".stripMargin

  // ------------------------------------------------------------------
  // q_setop — EXCEPT: BUILDING-segment customers that never placed a
  // high-priority order. Also exercises DISTINCT semantics of set ops.
  private val qSetop: Q = (s, dir) => {
    val building = cust(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val urgent = ord(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    building.except(urgent)
  }

  private val qSetopSql =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  // ------------------------------------------------------------------
  // q_rollup — hierarchical aggregate (returnflag, linestatus) with
  // subtotals and grand total.
  private val qRollup: Q = (s, dir) =>
    li(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))

  private val qRollupSql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  // ------------------------------------------------------------------
  // q_distinct — exact distinct-count aggregate per group.
  private val qDistinct: Q = (s, dir) =>
    li(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))

  private val qDistinctSql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // q_events_hourly — tumbling 1-hour window aggregate over the event
  // stream table (batch shape of the Structured-Streaming windowed agg).
  private val qEventsHourly: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  private val qEventsHourlySql =
    """SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_moving_window — sliding event-time aggregate: per user, the sum
  // and count of event values over the trailing hour (RANGE frame on
  // epoch seconds — peers at equal timestamps are all included, so the
  // frame is deterministic). One shuffle on user_id; frame width
  // bounds per-row work regardless of history length.
  private val qMovingWindow: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch"))
      .rangeBetween(-3600L, 0L)
    Tables.load(s, dir, "events")
      .withColumn("epoch", col("ts").cast("long"))
      .select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(w), 2).as("w_sum"),
        count(lit(1)).over(w).as("w_n"))
  }

  private val qMovingWindowSql =
    """SELECT event_id, user_id,
      |  round(sum(value) OVER win, 2) AS w_sum,
      |  CAST(count(*) OVER win AS BIGINT) AS w_n
      |FROM events
      |WINDOW win AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin

  // ------------------------------------------------------------------
  // q_sessionize — gap-based sessionization (30-min idle timeout) via
  // ops.Sessionize (lag + running sum, one shuffle on user_id; the
  // batch twin of flatMapGroupsWithState session windows). Integer
  // microsecond gap math on both sides — the earlier inline version
  // compared second-truncated casts against DuckDB's fractional
  // epoch(), a latent boundary mismatch.
  private val qSessionize: Q = (s, dir) =>
    graft.ops.Sessionize.sessionize(Tables.load(s, dir, "events"),
        keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
        gapMicros = 1800L * 1000000)
      .groupBy(col("user_id"), col("session_idx").as("session_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))

  private val qSessionizeSql =
    """SELECT user_id, session_id, count(*) AS n_events,
      |  round(sum(value), 2) AS session_value
      |FROM (
      |  SELECT user_id, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id, value,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |             OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM events) g) t
      |GROUP BY user_id, session_id""".stripMargin

  // ------------------------------------------------------------------
  // q_skew_salted_join — explicit skew-salted equi-join (lineitem ⋈
  // supplier on suppkey, salted 8 ways) aggregated per nation. The
  // salt must be invisible in the result: the oracle is the PLAIN join.
  private val qSalted: Q = (s, dir) => {
    val li = li0(s, dir)
    val supp = Tables.load(s, dir, "supplier")
    graft.ops.SkewJoin.saltedJoin(li, supp, "l_suppkey", "s_suppkey", saltBuckets = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("total"))
  }
  private def li0(s: SparkSession, dir: String) = li(s, dir)

  private val qSaltedSql =
    """SELECT s_nationkey, count(*) AS n, round(sum(l_extendedprice), 2) AS total
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey""".stripMargin

  // ------------------------------------------------------------------
  // q_hotkey_join — differentiated hot/cold join (events ⋈ per-user
  // lifetime stats on a power-law user_id; hot users broadcast, tail
  // shuffled). Like the salt, the split must be invisible: the oracle
  // is the PLAIN join. Integer sums only — no float sum-order risk.
  private val qHotKey: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select("user_id", "event_type")
    val userTotals = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_events"))
    graft.ops.SkewJoin.hotKeyJoin(ev, userTotals, Seq("user_id"), hotKeys = 32)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_events")).as("partner_events"))
  }

  private val qHotKeySql =
    """WITH ut AS (SELECT user_id, count(*) AS user_events FROM events GROUP BY user_id)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(user_events) AS BIGINT) AS partner_events
      |FROM events JOIN ut USING (user_id)
      |GROUP BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q_cube — full cube over two dims.
  private val qCube: Q = (s, dir) =>
    li(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
  private val qCubeSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  // ------------------------------------------------------------------
  // q_intersect — INTERSECT set op.
  private val qIntersect: Q = (s, dir) => {
    val building = cust(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val urgent = ord(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    building.intersect(urgent)
  }
  private val qIntersectSql =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |INTERSECT
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  // ------------------------------------------------------------------
  // q_approx_sketches — HyperLogLog distinct + quantile sketches: the
  // approximate-aggregate surface for 100 TB interactive profiling.
  // Sketch internals differ across engines (raw approx values can never
  // hash-match DuckDB), so the gate ships the ERROR-BOUND VERDICTS with
  // the exact values: Spark computes |approx−exact| against the bound
  // and the rank fraction at the approx median; the oracle computes the
  // exact values and expects every verdict literally true. A sketch
  // regression (error past 3× rsd, median rank outside 45–55%) now
  // breaks the hash-match instead of hiding in a rows-only check.
  private val qApprox: Q = (s, dir) => {
    val l = li(s, dir)
    // The sketches are computed in SEPARATE aggregates on purpose. One
    // combined groupBy(flag).agg(approx_cd, count_distinct, percentile)
    // plans the distinct rewrite with the OTHER sketches dragged into
    // the per-(flag, partkey) partial phase: every distinct partkey
    // carries its own 410-long HLL register array AND percentile buffer
    // through four ObjectHashAggregate stages (~3 KB of sketch state
    // per distinct key — plans/r12/q_approx_sketches_before.txt, nodes
    // 4–9, Results [413]). Split, the percentile aggregate holds one
    // buffer per flag (3 keys, hash-based), and the distinct pass is a
    // whole-stage-codegen HashAggregate over (flag, partkey) with NO
    // sketch state; the HLL then runs over the distinct rows — register-
    // identical to running it over all rows (HLL updates are duplicate-
    // insensitive), so the estimate and both verdicts are byte-equal.
    // count(l_partkey) (not count(*)) keeps count_distinct's skip-null
    // rule. Measured sf0.1: 7.19 s -> see OPTIMIZATION_r12.md.
    //
    // TWO consumers (the rank-fraction join below and the final join)
    // would each re-run these aggregates; the frame is ≤ |returnflag|
    // rows: persist it so the exact/approx pass runs once.
    val med = l.groupBy(col("l_returnflag")).agg(
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("__approx_median"))
    val dist = l.select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("__approx_parts"),
        count(col("l_partkey")).as("exact_parts"))
    val agg = dist.join(med, Seq("l_returnflag"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranks = l
      .join(agg.select(col("l_returnflag"), col("__approx_median")), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg((sum(when(col("l_extendedprice") <= col("__approx_median"), 1L).otherwise(0L))
        / count(lit(1))).as("__frac"))
    agg.join(ranks, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("__approx_parts") - col("exact_parts"))
          <= col("exact_parts") * 0.06).as("parts_ok"),
        (col("__frac") >= 0.45 && col("__frac") <= 0.55).as("median_ok"))
  }
  private val qApproxSql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      |  true AS parts_ok, true AS median_ok
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // q_json_extract — semi-structured column handling: parse the events
  // props JSON, aggregate an extracted field per event type.
  private val qJson: Q = (s, dir) =>
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"))
  private val qJsonSql =
    """SELECT event_type, count(k) AS n_with_k, CAST(sum(k) AS BIGINT) AS sum_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events) t
      |GROUP BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q_pivot — groupBy().pivot() with a fixed value list (dynamic pivots
  // appear in strategy T5); oracle via conditional aggregation.
  private val qPivot: Q = (s, dir) =>
    li(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("O", "F"))
      .agg(round(sum(col("l_quantity")), 2))
      .withColumnRenamed("O", "qty_o")
      .withColumnRenamed("F", "qty_f")
  private val qPivotSql =
    """SELECT l_returnflag,
      |  round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_o,
      |  round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_f
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // q_unpivot — wide → long (unpivot/stack); oracle via UNION ALL.
  private val qUnpivot: Q = (s, dir) =>
    Tables.load(s, dir, "part")
      .unpivot(
        Array(col("p_partkey")),
        Array(col("p_retailprice").as("retailprice"), col("p_size").cast("double").as("size")),
        "attr", "val")
      .select(col("p_partkey"), col("attr"), round(col("val"), 2).as("val"))
  private val qUnpivotSql =
    """SELECT p_partkey, 'retailprice' AS attr, round(p_retailprice, 2) AS val FROM part
      |UNION ALL
      |SELECT p_partkey, 'size' AS attr, round(CAST(p_size AS DOUBLE), 2) AS val FROM part""".stripMargin

  // ------------------------------------------------------------------
  // q_scalar_subquery — correlated scalar aggregate per row (customers
  // with their own max order value). DataFrame form: aggregate + join.
  private val qScalarSub: Q = (s, dir) => {
    val maxPerCust = ord(s, dir).groupBy(col("o_custkey"))
      .agg(round(max(col("o_totalprice")), 2).as("max_order"))
    cust(s, dir)
      .join(maxPerCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("max_order"))
  }
  private val qScalarSubSql =
    """SELECT c_custkey,
      |  (SELECT round(max(o_totalprice), 2) FROM orders
      |   WHERE o_custkey = c_custkey) AS max_order
      |FROM customer""".stripMargin

  // ------------------------------------------------------------------
  // q_median_exact — exact DISCRETE percentiles per group via ordered
  // row selection (interpolated medians average two doubles and can
  // land exactly on a rounding boundary where engines' tie handling
  // differs — a real cross-engine reproducibility lesson; discrete
  // selection is bit-deterministic on both sides). Uses the window
  // formulation explicitly (ops.Percentiles.windowDiscrete — the
  // many-small-groups regime's plan).
  private val qMedian: Q = (s, dir) =>
    graft.ops.Percentiles.windowDiscrete(
      li(s, dir).select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"),
      groupCol = "l_returnflag", valueCol = "l_extendedprice",
      ties = Seq("l_orderkey", "l_linenumber"),
      percentiles = Seq("median_price" -> 0.5, "p95_price" -> 0.95))
  private val qMedianSql =
    """SELECT l_returnflag,
      |  min(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS median_price,
      |  min(CASE WHEN rn = ceil(n * 0.95) THEN l_extendedprice END) AS p95_price
      |FROM (
      |  SELECT l_returnflag, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem) t
      |WHERE rn = ceil(n * 0.5) OR rn = ceil(n * 0.95)
      |GROUP BY l_returnflag""".stripMargin

  // q_median_scalable — the SAME discrete percentiles via the ONE
  // dispatching entry point (ops.Percentiles.autoDiscrete): it measures
  // the group count and picks histogram-locate here (3 groups — the
  // few-groups/many-rows regime where the window plan's parallelism is
  // capped at the group count). Same oracle — results must be identical.
  private val qMedianScalable: Q = (s, dir) =>
    graft.ops.Percentiles.autoDiscrete(
      li(s, dir).select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"),
      groupCol = "l_returnflag", valueCol = "l_extendedprice",
      ties = Seq("l_orderkey", "l_linenumber"),
      percentiles = Seq("median_price" -> 0.5, "p95_price" -> 0.95))

  // q_topk_grouped — per-group top-3 by price via the bounded typed
  // Aggregator (ops.TopK): only k rows per group per map task ride
  // the shuffle, vs the window formulation sorting every group fully.
  private val qTopkGrouped: Q = (s, dir) =>
    graft.ops.TopK.topKPerGroup(
      li(s, dir).withColumn("tie",
        col("l_orderkey") * 10 + col("l_linenumber")),
      groupCol = "l_returnflag", orderCol = "l_extendedprice",
      tieCol = "tie", k = 3)

  private val qTopkGroupedSql =
    """SELECT l_returnflag, rank, l_extendedprice, tie FROM (
      |  SELECT l_returnflag, l_extendedprice,
      |    l_orderkey * 10 + l_linenumber AS tie,
      |    CAST(row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS BIGINT) AS rank
      |  FROM lineitem) t
      |WHERE rank <= 3""".stripMargin

  // q_zorder_key — Morton clustering key (ops.ZOrder) over the two
  // join/filter dimensions of lineitem. The key itself is pure
  // codegen'd bit algebra; a writer that range-partitions and sorts by
  // it makes every parquet file hold a compact rectangle of
  // (partkey, suppkey) space — row-group pruning for predicates on
  // EITHER column. The oracle reproduces the interleave bit-by-bit.
  private val qZorder: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.ops.ZOrder.interleave2(
          col("l_partkey") % 65536, col("l_suppkey") % 65536).as("zkey"))

  private val qZorderSql = {
    val terms = (0 until graft.ops.ZOrder.Bits).flatMap { i =>
      Seq(s"((((l_partkey % 65536) >> $i) & 1) << ${2 * i + 1})",
        s"((((l_suppkey % 65536) >> $i) & 1) << ${2 * i})")
    }.mkString(" | ")
    s"SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zkey FROM lineitem"
  }

  // q_dq_audit — Deequ-style data-quality audit in ONE scan: row count,
  // null counts, domain-violation counts, exact distinct cardinality,
  // extrema. At 100 TB the difference between auditing in one pass and
  // one query per metric is the whole job cost; everything here rides
  // a single aggregate (the distinct triggers Spark's Expand-based
  // two-phase plan — still one scan of the data).
  private val qDqAudit: Q = (s, dir) =>
    Tables.load(s, dir, "lineitem").agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_flags"),
      sum(when(col("l_quantity") <= 0 || col("l_quantity") > 100, 1L)
        .otherwise(0L)).as("bad_quantity"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("bad_discount"),
      countDistinct(col("l_returnflag")).as("n_flag_values"),
      round(min(col("l_extendedprice")), 2).as("min_price"),
      round(max(col("l_extendedprice")), 2).as("max_price"))

  private val qDqAuditSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS null_flags,
      |  CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 100 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS bad_quantity,
      |  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS bad_discount,
      |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flag_values,
      |  round(min(l_extendedprice), 2) AS min_price,
      |  round(max(l_extendedprice), 2) AS max_price
      |FROM lineitem""".stripMargin

  // q_bloom_prune_join — ops.BloomJoin pre-filter + deliberate
  // sort-merge join (the bloom matters exactly when the dim side is
  // too big to broadcast): fact rows that cannot match never enter the
  // shuffle. False positives are discarded by the real join, so the
  // oracle is the PLAIN join — the bloom must be invisible in the
  // result, like the salt in q_skew_salted_join.
  private val qBloomPrune: Q = (s, dir) => {
    val dim = Tables.load(s, dir, "supplier")
      .filter(col("s_nationkey") === 3).select(col("s_suppkey"))
    val pruned = graft.ops.BloomJoin.pruneLarge(
      Tables.load(s, dir, "lineitem"), "l_suppkey", dim, "s_suppkey",
      expectedItems = 100000L)
    pruned.join(dim.hint("merge"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
  }

  private val qBloomPruneSql =
    """SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(l_extendedprice), 2) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |WHERE s_nationkey = 3
      |GROUP BY s_suppkey""".stripMargin

  // q_bucketed_join — ops.Layout: orders and customer are ingested
  // ONCE per dataset dir as co-bucketed tables on custkey (the
  // pay-at-ingest layout), then the join + per-customer aggregate runs
  // with ZERO exchanges — LayoutSpec pins the no-Exchange plan; here
  // the oracle pins that the exchange-free result equals the plain
  // shuffled join's.
  private val bucketedIngest = new java.util.concurrent.ConcurrentHashMap[String, Unit]()
  private val qBucketed: Q = (s, dir) => {
    val tag = math.abs(dir.hashCode).toString
    bucketedIngest.computeIfAbsent(dir, { _ =>
      val base = java.nio.file.Files.createTempDirectory("graft_bucketed_")
      graft.ops.Layout.ingestBucketed(
        Tables.load(s, dir, "orders").select("o_custkey", "o_totalprice"),
        s"bkt_orders_$tag", base.resolve("orders").toString,
        Seq("o_custkey"), buckets = 8, sortCols = Seq("o_custkey"))
      graft.ops.Layout.ingestBucketed(
        Tables.load(s, dir, "customer")
          .select("c_custkey", "c_mktsegment"),
        s"bkt_customer_$tag", base.resolve("customer").toString,
        Seq("c_custkey"), buckets = 8, sortCols = Seq("c_custkey"))
    })
    graft.ops.Layout.readBucketed(s, s"bkt_orders_$tag")
      .join(graft.ops.Layout.readBucketed(s, s"bkt_customer_$tag").hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  private val qBucketedSql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  // Contiguous global row numbering WITHOUT the single-task global
  // window (ops.GlobalIndex: range shuffle + metadata-sized count job
  // + per-partition offset counters). Result is identical to
  // row_number() by construction — that IS the oracle.
  // Ordering must end in a unique key (o_orderkey) — row_number over a
  // tied ordering is nondeterministic in ANY engine.
  private val qGlobalIndex: Q = (s, dir) =>
    graft.ops.GlobalIndex.withGlobalIndex(
      Tables.load(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
      Seq(col("o_custkey"), col("o_orderkey")), "row_idx")
  private val qGlobalIndexSql =
    """SELECT o_custkey, o_orderkey,
      |  row_number() OVER (ORDER BY o_custkey, o_orderkey) AS row_idx
      |FROM orders""".stripMargin

  // Ordered funnel (ops.Funnel): per-user view → click → purchase
  // progression, strict ordering, left-joined per-stage aggregates —
  // no per-key sequence window, no array collection. Timestamps out
  // as epoch micros (bigint) per the oracle hash rules.
  private val qFunnel: Q = (s, dir) =>
    graft.ops.Funnel.funnel(Tables.load(s, dir, "events"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .select(col("user_id"),
        unix_micros(col("ts_view")).as("ts_view"),
        unix_micros(col("ts_click")).as("ts_click"),
        unix_micros(col("ts_purchase")).as("ts_purchase"),
        col("depth"))
  private val qFunnelSql =
    """WITH s0 AS (
      |  SELECT user_id, min(ts) AS t0 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s1 AS (
      |  SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s0 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s0.t0 GROUP BY e.user_id),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1 GROUP BY e.user_id)
      |SELECT s0.user_id,
      |  epoch_us(t0) AS ts_view, epoch_us(t1) AS ts_click,
      |  epoch_us(t2) AS ts_purchase,
      |  CAST(1 + (CASE WHEN t1 IS NULL THEN 0 ELSE 1 END)
      |         + (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS depth
      |FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)""".stripMargin

  // GROUPING SETS — the rollup/cube sibling with hand-picked grouping
  // combinations; exercised through the SQL surface (the DataFrame API
  // exposes only rollup/cube). Same partial-aggregable Expand plan as
  // rollup — one shuffle regardless of how many sets.
  private val qGroupingSets: Q = (s, dir) => {
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_gsets")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem_gsets
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
        |""".stripMargin)
  }
  private val qGroupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())""".stripMargin

  // Weekly cohort retention (ops.Funnel.retention): users cohorted by
  // first-event week, distinct-active counts per (cohort, offset).
  // Integer epoch-microsecond division on both sides — exact.
  private val qRetention: Q = (s, dir) =>
    graft.ops.Funnel.retention(Tables.load(s, dir, "events"),
      "user_id", "ts", periodSeconds = 604800L)
  private val qRetentionSql =
    """WITH f AS (
      |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
      |SELECT epoch_us(f.first_ts) // 604800000000 AS cohort,
      |  epoch_us(e.ts) // 604800000000
      |    - epoch_us(f.first_ts) // 604800000000 AS period_offset,
      |  count(DISTINCT e.user_id) AS n_active
      |FROM events e JOIN f USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_zorder_key", qZorder, Some(qZorderSql)),
    Entry("q_funnel", qFunnel, Some(qFunnelSql)),
    Entry("q_retention", qRetention, Some(qRetentionSql)),
    Entry("q_grouping_sets", qGroupingSets, Some(qGroupingSetsSql)),
    Entry("q_dq_audit", qDqAudit, Some(qDqAuditSql)),
    Entry("q_bloom_prune_join", qBloomPrune, Some(qBloomPruneSql)),
    Entry("q_bucketed_join", qBucketed, Some(qBucketedSql)),
    Entry("q_topk_grouped", qTopkGrouped, Some(qTopkGroupedSql)),
    Entry("q_median_scalable", qMedianScalable, Some(qMedianSql)),
    Entry("q_moving_window", qMovingWindow, Some(qMovingWindowSql)),
    Entry("q_pivot", qPivot, Some(qPivotSql)),
    Entry("q_unpivot", qUnpivot, Some(qUnpivotSql)),
    Entry("q_scalar_subquery", qScalarSub, Some(qScalarSubSql)),
    Entry("q_median_exact", qMedian, Some(qMedianSql)),
    Entry("q_json_extract", qJson, Some(qJsonSql)),
    Entry("q_skew_salted_join", qSalted, Some(qSaltedSql)),
    Entry("q_hotkey_join", qHotKey, Some(qHotKeySql)),
    Entry("q_cube", qCube, Some(qCubeSql)),
    Entry("q_intersect", qIntersect, Some(qIntersectSql)),
    Entry("q_approx_sketches", qApprox, Some(qApproxSql)),
    Entry("q1_agg", q1, Some(q1Sql)),
    Entry("q6_filter", q6, Some(q6Sql)),
    Entry("q3_join_agg", q3, Some(q3Sql)),
    Entry("q_topk", qTopK, Some(qTopKSql)),
    Entry("q_window_rank", qWindow, Some(qWindowSql)),
    Entry("q_semijoin", qSemi, Some(qSemiSql)),
    Entry("q_antijoin", qAnti, Some(qAntiSql)),
    Entry("q_setop_except", qSetop, Some(qSetopSql)),
    Entry("q_rollup", qRollup, Some(qRollupSql)),
    Entry("q_distinct", qDistinct, Some(qDistinctSql)),
    Entry("q_events_hourly", qEventsHourly, Some(qEventsHourlySql)),
    Entry("q_sessionize", qSessionize, Some(qSessionizeSql)),
    Entry("q_global_index", qGlobalIndex, Some(qGlobalIndexSql)),
  )
}
