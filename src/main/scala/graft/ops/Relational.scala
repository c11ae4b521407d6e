package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Det._

/** Relational core — SURVEY.md §2.1–2.5.
  *
  * Everything here is plain declarative DataFrame API: Catalyst handles
  * predicate/projection pushdown into the parquet scans, partial
  * aggregation, broadcast-vs-shuffle join selection (AQE re-plans at
  * runtime), and top-k (`TakeOrderedAndProject`) for the ordered LIMITs.
  * At 100 TB the same plans hold: scans prune columns + row groups,
  * dimension joins broadcast, fact-fact joins shuffle on their equi keys,
  * and the ordered-LIMIT queries never materialize a global sort.
  */
object Relational {

  // ---------------------------------------------------------------- §2.1
  val scanProject = QueryDef(
    "scan_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |LIMIT 100""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      // (l_orderkey, l_linenumber) is NOT unique in this data — order by
      // every emitted column so the LIMIT boundary only ever splits
      // byte-identical rows (deterministic multiset).
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .limit(100)
  }

  val scanCountStar = QueryDef(
    "scan_count_star",
    Tables.all.sorted
      .map(t => s"SELECT '$t' AS table_name, CAST(count(*) AS BIGINT) AS n FROM $t")
      .mkString("", " UNION ALL ", " ORDER BY table_name")) { (s, d) =>
    Tables.all.sorted
      .map { t =>
        Tables.table(s, d, t).agg(count(lit(1)).as("n"))
          .select(lit(t).as("table_name"), col("n"))
      }
      .reduce(_.union(_))
      .orderBy("table_name")
  }

  // ---------------------------------------------------------------- §2.2
  val projectExpr = QueryDef(
    "project_expr",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_tax AS DECIMAL(4,2)) AS DOUBLE) AS qty_tax
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, revenue, qty_tax
      |LIMIT 100""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        dbl(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))).as("revenue"),
        dbl(money(col("l_quantity")) * rate(col("l_tax"))).as("qty_tax"))
      .orderBy("l_orderkey", "l_linenumber", "revenue", "qty_tax")
      .limit(100)
  }

  val filterPred = QueryDef(
    "filter_pred",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
      |  AND l_discount IN (0.05, 0.06, 0.07)
      |  AND l_returnflag LIKE 'R%'
      |  AND l_extendedprice > 1000 * l_quantity
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
      |LIMIT 100""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(
        lit("1996-01-01").cast("timestamp_ntz"), lit("1997-12-31").cast("timestamp_ntz")))
      .filter(col("l_discount").isin(0.05, 0.06, 0.07))
      .filter(col("l_returnflag").like("R%"))
      .filter(col("l_extendedprice") > lit(1000) * col("l_quantity"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .limit(100)
  }

  // ---------------------------------------------------------------- §2.3
  val joinInner = QueryDef(
    "join_inner",
    """SELECT o_orderkey, o_custkey, o_totalprice, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
      .select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")
      .orderBy("o_orderkey")
      .limit(100)
  }

  val joinLeft = QueryDef(
    "join_left",
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |ORDER BY c_custkey, o_orderkey NULLS FIRST LIMIT 100""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
      .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
      .limit(100)
  }

  val joinSemi = QueryDef(
    "join_semi",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
    Tables.customer(s, d)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val joinAnti = QueryDef(
    "join_anti",
    """SELECT c_custkey, c_name, c_acctbal FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    // Plain "customers with no orders" is (near-)empty in this data, so the
    // anti-join is declared over "no order above 200 000" (2 rows at
    // sf0.01, 40 at sf0.1) — still a pure left_anti plan.
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 200000)
    Tables.customer(s, d)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  val joinBroadcast = QueryDef(
    "join_broadcast",
    """SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
    // Explicit broadcast of the two dimension tables: at any scale the
    // customer side streams map-side through two BroadcastHashJoins with
    // no shuffle before the (tiny, 5-group) aggregation.
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("r_name")
  }

  val joinMultiway = QueryDef(
    "join_multiway",
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_lineitems
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
    // TPC-H Q5 shape. Join order is written fact-outward: lineitem⋈orders
    // shuffles on the order key once; customer/nation/region broadcast.
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("r_name", "n_name")
  }

  val joinRange = QueryDef(
    "join_range",
    """SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(count(*) AS BIGINT) AS n
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_id < b.event_id
      | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
      |GROUP BY type_a, type_b ORDER BY type_a, type_b""".stripMargin) { (s, d) =>
    // Banded interval join (Events.intervalSelfJoin): the equi key is
    // (user_id, time_bucket), so candidate pairs are bounded by 5-minute
    // bucket occupancy instead of growing quadratically per user — the
    // shape that survives dense users at 100 TB. EdgeSpec pins equality
    // with the naive per-user range join.
    Events.intervalSelfJoin(Tables.events(s, d), maxGapUs = 300000000L)
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n"))
      .orderBy("type_a", "type_b")
  }

  val joinAsof = QueryDef(
    "join_asof",
    """SELECT e.event_id, e.user_id,
      |  (SELECT c.event_id FROM events c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
      |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
      |FROM events e WHERE e.event_type = 'error'
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    // As-of join via the union-tag trick (Events.asofJoin): one shuffle on
    // user_id, one sort, no join at all. Clicks sort before errors at
    // equal ts so "at/before" includes same-timestamp clicks; event_id ASC
    // makes last() pick the max event_id among tied clicks.
    Events.asofJoin(Tables.events(s, d), "error", "click", "click_id")
      .orderBy("event_id")
  }

  /** The forward direction + tolerance — completes the asof
    * surface: for each error, the FIRST click at/after it within 10
    * minutes (the "next recovery action" shape real event pipelines ask
    * for). Same union-tag machinery as `join_asof`, reflected — errors
    * sort before equal-ts clicks and `first(ignoreNulls)` scans the
    * FOLLOWING frame; the 10-minute horizon nulls out matches beyond it,
    * keeping the null bucket live at every SF. */
  val joinAsofFwd = QueryDef(
    "join_asof_fwd",
    """SELECT e.event_id, e.user_id,
      |  (SELECT c.event_id FROM events c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |     AND c.ts >= e.ts AND epoch_us(c.ts) <= epoch_us(e.ts) + 600000000
      |   ORDER BY c.ts, c.event_id LIMIT 1) AS click_id
      |FROM events e WHERE e.event_type = 'error'
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    Events.asofJoinFwd(Tables.events(s, d), "error", "click", "click_id",
        toleranceUs = 600000000L)
      .orderBy("event_id")
  }

  /** The bidirectional member — nearest click in EITHER
    * direction by |Δt|, ties to the at/before side (the finance
    * "nearest quote" rule); each side keeps its own family tie
    * convention. One shuffle + one sort serves both directions
    * (Events.asofJoinNearest); the oracle ranks candidates by
    * (|Δt|, side, side-signed event_id). */
  val joinAsofNearest = QueryDef(
    "join_asof_nearest",
    """SELECT e.event_id, e.user_id,
      |  (SELECT c.event_id FROM events c
      |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
      |   ORDER BY abs(epoch_us(c.ts) - epoch_us(e.ts)),
      |            CASE WHEN c.ts <= e.ts THEN 0 ELSE 1 END,
      |            CASE WHEN c.ts <= e.ts THEN -c.event_id ELSE c.event_id END
      |   LIMIT 1) AS click_id
      |FROM events e WHERE e.event_type = 'error'
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    Events.asofJoinNearest(Tables.events(s, d), "error", "click", "click_id")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- §2.4
  val aggGroupby = QueryDef(
    "agg_groupby",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
      |  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    // TPC-H Q1 shape. Sums are DECIMAL-exact (associative → identical under
    // any partitioning); averages are double division of those exact sums.
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(money(col("l_extendedprice")) * (lit(1) - rate(col("l_discount")))
          * (lit(1) + rate(col("l_tax")))).cast("double").as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(dec(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val aggDistinct = QueryDef(
    "agg_distinct",
    """SELECT o_orderpriority,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
      |  CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  val aggRollup = QueryDef(
    "agg_rollup",
    """SELECT c_mktsegment, n_name,
      |  CAST(GROUPING(c_mktsegment, n_name) AS INT) AS gid,
      |  CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP(c_mktsegment, n_name)
      |ORDER BY gid, c_mktsegment, n_name""".stripMargin) { (s, d) =>
    // gid leads the ORDER BY so NULL group-markers never compare against
    // non-NULLs (null-ordering defaults differ between engines).
    // SQL text form: Spark 4.1's ambiguous-self-join detector false-fires
    // on DataFrame rollup() over a plain two-table join (the rollup Expand
    // duplicates the grouping attrs); ROLLUP via SQL plans identically
    // (Expand + HashAggregate, nation broadcast by AQE).
    s.sql(
      s"""SELECT c_mktsegment, n_name,
         |  CAST(grouping_id() AS INT) AS gid,
         |  count(*) AS n_customers,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
         |FROM parquet.`$d/customer.parquet` JOIN parquet.`$d/nation.parquet`
         |  ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP(c_mktsegment, n_name)
         |ORDER BY gid, c_mktsegment, n_name""".stripMargin)
  }

  val aggCube = QueryDef(
    "agg_cube",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("n"))
      .orderBy("gid", "l_returnflag", "l_linestatus")
  }

  val aggGroupingSets = QueryDef(
    "agg_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    s.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(grouping_id() AS INT) AS gid,
         |  count(*) AS n,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         |FROM parquet.`$d/lineitem.parquet`
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
  }

  /** HLL++ sketch as a BOUNDED-ERROR driver gate: the estimate itself
    * never crosses the engine boundary (HLL register contents are
    * engine-specific — DuckDB's HLL is a different sketch), so the hash gates the exact
    * per-group cardinality PLUS the Spark-computed claim that the sketch
    * landed within its 2% target (TRUE on the oracle side). Measured max
    * error ≤ 0.85% at all three SFs, and the estimator is deterministic
    * (fixed hash), so the boolean is stable — a sketch regression now
    * fails the driver's hash instead of only AggSpec's 5% property gate
    * (which stays). The exact countDistinct column is gate scaffolding:
    * at 100 TB the operator ships only the sketch — one combinable
    * fixed-width register set per group vs an exact distinct shuffle. */
  val aggApproxDistinct = QueryDef(
    "agg_approx_distinct",
    """SELECT o_orderpriority,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
      |  TRUE AS within_2pct
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        approx_count_distinct(col("o_custkey"), 0.02).as("est"),
        countDistinct(col("o_custkey")).as("exact_custs"))
      // |est − exact| ≤ 0.02·exact, in exact integer arithmetic (×50)
      .select(col("o_orderpriority"), col("exact_custs"),
        (abs(col("est") - col("exact_custs")) * 50 <= col("exact_custs"))
          .as("within_2pct"))
      .orderBy("o_orderpriority")
  }

  // ---------------------------------------------------------------- §2.5
  val windowRank = QueryDef(
    "window_rank",
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER w AS BIGINT) AS rn,
      |    CAST(rank() OVER w AS BIGINT) AS rnk,
      |    CAST(dense_rank() OVER w AS BIGINT) AS drnk
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |) WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  val windowRunning = QueryDef(
    "window_running",
    """SELECT user_id, event_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,4)))
      |       OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
      |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    // DECIMAL running sum: exact regardless of the engine's internal
    // window-aggregation association (segment trees vs sequential).
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        sum(dec(col("value"))).over(w).cast("double").as("running_sum"),
        count(lit(1)).over(w).as("running_n"))
      .orderBy("user_id", "event_id")
  }

  val windowLagLead = QueryDef(
    "window_lag_lead",
    """SELECT user_id, event_id, value,
      |  lag(value, 1) OVER w AS prev_value,
      |  lead(value, 1) OVER w AS next_value,
      |  round(value - lag(value, 1) OVER w, 4) AS delta
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        round(col("value") - lag(col("value"), 1).over(w), 4).as("delta"))
      .orderBy("user_id", "event_id")
  }

  val windowRangeFrame = QueryDef(
    "window_range_frame",
    """SELECT user_id, event_id,
      |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_trailing_1h
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    // RANGE frame over epoch microseconds — the same integer axis on both
    // engines (session TZ UTC; data is µs-precision).
    val eus = unix_micros(col("ts").cast("timestamp"))
    val w = Window.partitionBy("user_id").orderBy(eus)
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_trailing_1h"))
      .orderBy("user_id", "event_id")
  }

  val sortMulti = QueryDef(
    "sort_multi",
    """SELECT o_orderkey, o_orderpriority, o_totalprice
      |FROM orders
      |ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    // orderBy+limit plans as TakeOrderedAndProject: per-partition top-k,
    // no global sort — the shape that survives 100× scale.
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .orderBy(col("o_orderpriority").asc, col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  private def autoCust = """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'"""
  private def richCust = """SELECT c_custkey FROM customer WHERE c_acctbal > 5000"""

  val setUnionAll = QueryDef(
    "set_union_all",
    s"""SELECT * FROM (($autoCust) UNION ALL ($richCust)) ORDER BY c_custkey""") { (s, d) =>
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
      .union(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
      .orderBy("c_custkey")
  }

  val setUnion = QueryDef(
    "set_union",
    s"""SELECT * FROM (($autoCust) UNION ($richCust)) ORDER BY c_custkey""") { (s, d) =>
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
      .union(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
      .distinct()
      .orderBy("c_custkey")
  }

  val setIntersect = QueryDef(
    "set_intersect",
    s"""SELECT * FROM (($autoCust)
       |INTERSECT
       |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O')
       |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
      .intersect(Tables.orders(s, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")
  }

  val setExcept = QueryDef(
    "set_except",
    """SELECT * FROM (
      |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      .except(Tables.orders(s, d).filter(col("o_totalprice") > 200000)
        .select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")
  }

  /** Bag (ALL) semantics of intersect/except — `intersectAll`/`exceptAll`
    * keep per-row multiplicities (min / difference of counts), a distinct
    * relation from the set forms when duplicates exist. Exercised on
    * order-priority rows where duplicates are the norm, so the bag/set
    * distinction is live in the gate data, not vacuously equal.
    */
  val setIntersectAll = QueryDef(
    "set_intersect_all",
    """SELECT * FROM (
      |SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT ALL
      |SELECT o_orderpriority FROM orders WHERE o_totalprice > 100000)
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    o.filter(col("o_orderstatus") === "O").select("o_orderpriority")
      .intersectAll(o.filter(col("o_totalprice") > 100000).select("o_orderpriority"))
      .orderBy("o_orderpriority")
  }

  val setExceptAll = QueryDef(
    "set_except_all",
    // the right side is a strict subset of the left, so the bag
    // difference is exactly the left rows failing the price predicate,
    // with multiplicities — non-empty at every SF (an empty EXCEPT ALL
    // result would gate nothing)
    """SELECT * FROM (
      |SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT ALL
      |SELECT o_orderpriority FROM orders
      |WHERE o_orderstatus = 'O' AND o_totalprice > 100000)
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
    o.select("o_orderpriority")
      .exceptAll(o.filter(col("o_totalprice") > 100000).select("o_orderpriority"))
      .orderBy("o_orderpriority")
  }

  val all: Seq[QueryDef] = Seq(
    scanProject, scanCountStar, projectExpr, filterPred,
    joinInner, joinLeft, joinSemi, joinAnti, joinBroadcast, joinMultiway,
    joinRange, joinAsof, joinAsofFwd, joinAsofNearest,
    aggGroupby, aggDistinct, aggRollup, aggCube, aggGroupingSets, aggApproxDistinct,
    windowRank, windowRunning, windowLagLead, windowRangeFrame,
    sortMulti, setUnionAll, setUnion, setIntersect, setExcept,
    setIntersectAll, setExceptAll)
}
