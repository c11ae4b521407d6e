package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Det._

/** Coverage extensions added after the core inventory: statistical
  * aggregates, window distribution functions, conditional expressions.
  */
object Extras {

  val aggStats = QueryDef(
    "agg_stats",
    """SELECT l_returnflag, sd_qty, var_qty, mean_qty FROM (
      |  SELECT l_returnflag,
      |    sqrt((sx2 - sx * sx / n) / (n - 1)) AS sd_qty,
      |    (sx2 - sx * sx / n) / (n - 1) AS var_qty,
      |    sx / n AS mean_qty
      |  FROM (
      |    SELECT l_returnflag,
      |      CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx2,
      |      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |      count(*) AS n
      |    FROM lineitem GROUP BY l_returnflag)
      |) ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    // Engines' native var_samp/stddev use different streaming algorithms
    // (noise above 4dp at big magnitudes), so the stats come from
    // DECIMAL-exact Σx and Σx² + the identical double expression
    // (Σx² − (Σx)²/n)/(n−1) on both engines. The column is l_quantity
    // (≤50, 2dp): its scaled sums stay below 2^53 at every SF, where both
    // engines' decimal→double casts are exact — for larger magnitudes the
    // two cast paths (single-rounding vs int128-then-scale) can differ by
    // an ulp, which is why this query is not defined over o_totalprice.
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(money(col("l_quantity")) * money(col("l_quantity")))
          .cast("double").as("sx2"),
        sum(money(col("l_quantity"))).cast("double").as("sx"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        sqrt((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("sd_qty"),
        ((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("var_qty"),
        (col("sx") / col("n")).as("mean_qty"))
      .orderBy("l_returnflag")
  }

  val windowDistribution = QueryDef(
    "window_distribution",
    """SELECT o_custkey, o_orderkey,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  round(percent_rank() OVER w, 4) AS pct_rank,
      |  round(cume_dist() OVER w, 4) AS cume
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    // percent_rank/cume_dist are ratios of identical integers → identical
    // doubles; ntile over a total order is deterministic.
    val w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 4).as("pct_rank"),
        round(cume_dist().over(w), 4).as("cume"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val fnConditional = QueryDef(
    "fn_conditional",
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 35 THEN 'mid' ELSE 'high' END AS qty_band,
      |  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_or_none,
      |  CAST(greatest(l_quantity, 10.0 * l_tax * 100) AS DOUBLE) AS g,
      |  CAST(least(l_discount, l_tax) AS DOUBLE) AS l,
      |  CASE WHEN l_linestatus = 'O' AND l_returnflag = 'N' THEN 1 ELSE 0 END AS open_clean
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, qty_band, g, l
      |LIMIT 100""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 35, "mid")
          .otherwise("high").as("qty_band"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag_or_none"),
        greatest(col("l_quantity"), lit(10.0) * col("l_tax") * 100).cast("double").as("g"),
        least(col("l_discount"), col("l_tax")).cast("double").as("l"),
        when(col("l_linestatus") === "O" && col("l_returnflag") === "N", 1)
          .otherwise(0).as("open_clean"))
      .orderBy("l_orderkey", "l_linenumber", "qty_band", "g", "l")
      .limit(100)
  }

  val joinFull = QueryDef(
    "join_full",
    """SELECT c_custkey, c_acctbal, o_orderkey, o_totalprice
      |FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
      |FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      |  ON c.c_custkey = o.o_custkey
      |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST
      |LIMIT 200""".stripMargin) { (s, d) =>
    // Filtered sides so both null shapes occur: rich customers without a
    // huge order, huge orders from non-rich customers.
    val c = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
    c.join(o, col("c_custkey") === col("o_custkey"), "full")
      .select("c_custkey", "c_acctbal", "o_orderkey", "o_totalprice")
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
      .limit(200)
  }

  val joinCross = QueryDef(
    "join_cross",
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
    // The one declared cartesian product — bounded by construction
    // (5 × 25 dimension rows).
    Tables.region(s, d).crossJoin(Tables.nation(s, d))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")
  }

  val aggPivot = QueryDef(
    "agg_pivot",
    """SELECT o_orderpriority,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    // pivot with an explicit value list (no extra distinct-values job);
    // missing combinations fill 0 to match the FILTER-count oracle.
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy("o_orderpriority")
  }

  val aggPercentile = QueryDef(
    "agg_percentile",
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    // Exact (sort-based) percentiles with linear interpolation on both
    // engines; 4dp round absorbs interpolation-formula ulps. Scalar
    // columns (not one array) so the gate's pandas diff can sort them.
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.25D)"), 4).as("p25"),
        round(expr("percentile(o_totalprice, 0.5D)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.95D)"), 4).as("p95"))
      .orderBy("o_orderpriority")
  }

  val aggCorr = QueryDef(
    "agg_corr",
    """SELECT l_returnflag, round(corr_qd, 4) AS corr_qd, round(covar_qd, 4) AS covar_qd FROM (
      |  SELECT l_returnflag,
      |    (n * sxy - sx * sy) / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)) AS corr_qd,
      |    (sxy - sx * sy / n) / (n - 1) AS covar_qd
      |  FROM (
      |    SELECT l_returnflag,
      |      CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sxy,
      |      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |      CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sy,
      |      CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx2,
      |      CAST(sum(CAST(l_discount AS DECIMAL(4,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sy2,
      |      count(*) AS n
      |    FROM lineitem GROUP BY l_returnflag)
      |) ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    // Correlation/covariance from DECIMAL-exact sums over small-magnitude
    // columns (scaled sums ≪ 2^53 at any SF — see §2.9-7), identical
    // double expression on both engines; round4 on already-identical
    // values.
    val q = money(col("l_quantity")); val dc = rate(col("l_discount"))
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(q * dc).cast("double").as("sxy"),
        sum(q).cast("double").as("sx"),
        sum(dc).cast("double").as("sy"),
        sum(q * q).cast("double").as("sx2"),
        sum(dc * dc).cast("double").as("sy2"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sx2") - col("sx") * col("sx")) *
               (col("n") * col("sy2") - col("sy") * col("sy"))), 4).as("corr_qd"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 4)
          .as("covar_qd"))
      .orderBy("l_returnflag")
  }

  val fnBitwise = QueryDef(
    "fn_bitwise",
    """SELECT o_orderkey,
      |  o_orderkey & 255 AS k_and,
      |  o_orderkey | 4096 AS k_or,
      |  xor(o_orderkey, 21845) AS k_xor,
      |  o_orderkey << 2 AS k_shl,
      |  o_orderkey >> 3 AS k_shr
      |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        col("o_orderkey").bitwiseAND(255).as("k_and"),
        col("o_orderkey").bitwiseOR(4096).as("k_or"),
        col("o_orderkey").bitwiseXOR(21845).as("k_xor"),
        shiftleft(col("o_orderkey"), 2).as("k_shl"),
        shiftright(col("o_orderkey"), 3).as("k_shr"))
      .orderBy("o_orderkey")
      .limit(100)
  }

  val windowFirstLast = QueryDef(
    "window_first_last",
    """SELECT user_id, event_id,
      |  first_value(event_id) OVER w AS first_ev,
      |  last_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ev,
      |  nth_value(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ev
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    // last_value/nth_value take the full-partition frame (the default
    // running frame would make them row-dependent on both engines alike,
    // but the full frame is the conventional meaning).
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        first(col("event_id")).over(w).as("first_ev"),
        last(col("event_id")).over(full).as("last_ev"),
        nth_value(col("event_id"), 2).over(full).as("second_ev"))
      .orderBy("user_id", "event_id")
  }

  /** Equi-width 20-bucket histogram of l_extendedprice with the range
    * taken from the data — min/max ride the plan as a broadcast 1-row
    * aggregate (no driver collect), the bucket index is pure arithmetic
    * the scan stage evaluates streaming, and the final groupBy touches
    * 20 groups. The oracle mirrors the IEEE expression tree
    * operation-for-operation (floor/least are exact; min/max are
    * order-independent), the same determinism recipe as sim_quantize.
    */
  val aggHistogram = QueryDef(
    "agg_histogram",
    """WITH v AS (
      |  SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
      |), mm AS (
      |  SELECT min(x) AS lo, max(x) AS hi FROM v
      |)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
      |       round(lo + bucket * (hi - lo) / 20, 4) AS lo_edge
      |FROM (
      |  SELECT CAST(least(floor((x - lo) * 20 / (hi - lo)), 19) AS BIGINT) AS bucket, lo, hi
      |  FROM v, mm
      |) GROUP BY bucket, lo, hi ORDER BY bucket""".stripMargin) { (s, d) =>
    val v = Tables.lineitem(s, d).select(col("l_extendedprice").cast("double").as("x"))
    val mm = v.agg(min(col("x")).as("lo"),
      Det.guardedHi(min(col("x")), max(col("x")), "agg_histogram").as("hi"))
    v.crossJoin(broadcast(mm))
      .select(least(floor((col("x") - col("lo")) * 20 / (col("hi") - col("lo"))), lit(19))
        .cast("long").as("bucket"), col("lo"), col("hi"))
      .groupBy("bucket", "lo", "hi")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"), col("n"),
        round(col("lo") + col("bucket") * (col("hi") - col("lo")) / 20, 4).as("lo_edge"))
      .orderBy("bucket")
  }

  /** Co-located bucketed join (SURVEY §2.1 sink + §2.3 join): write both
    * fact tables bucketed + sorted on the join key via
    * [[graft.sources.Sources.writeBucketed]], then sort-merge join them
    * with ZERO Exchange below the join — the repeated fact-fact join
    * layout at 100 TB, where the one-time bucket-write shuffle is
    * amortized over every subsequent join on that key. The only shuffles
    * in this plan are ABOVE the join (the 5-row priority aggregate and
    * its sort); SourcesSpec pins exactly that plan shape for this key.
    * The oracle is the same join+aggregate in DuckDB — bucketing is a
    * physical layout, so the relation is identical.
    */
  val joinBucketed = QueryDef(
    "join_bucketed",
    """SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    joinBucketedPlan(s, d)
  }

  /** (Session, dataset)-scoped suffix for the bucketed catalog table
    * names (shared with SourcesSpec's cleanup). The SESSION identity
    * rides in the name as well as the path: two live
    * sessions in one JVM share one catalog, so dataset-only names would
    * let the second session's saveAsTable(overwrite) re-point the shared
    * name at its own directory — data-equivalent, but it silently
    * replaces the layout the first session landed. */
  def bucketedTableSuffix(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8) +
      "_s" + Integer.toHexString(System.identityHashCode(s))

  /** The declared plan for `join_bucketed`, exposed so SourcesSpec can pin
    * the zero-Exchange-below-join shape on exactly what the driver runs.
    * Bucketed tables land once per (session, sfDir) in a deterministic
    * temp location: the first invocation pays the two bucketed writes,
    * every later one (bench reps, repeated joins in a real pipeline)
    * runs ONLY the co-located join against the landed layout.
    */
  def joinBucketedPlan(s: org.apache.spark.sql.SparkSession, d: String) = {
    import graft.sources.Sources
    val sfx = bucketedTableSuffix(s, d)
    Memo.once(s, d, "extras.bucketed") {
      // session identity in the path (the Landed.once rule): a second
      // live session in the same JVM must not overwrite the directory
      // the first session's catalog tables point at
      val base = QueryDef.tmpRoot(
        "bkt_s" + Integer.toHexString(System.identityHashCode(s)), d)
      Sources.writeBucketed(Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority"),
        s"graft_bkt_orders_$sfx", base + "/orders", buckets = 8,
        key = "o_orderkey")
      Sources.writeBucketed(Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity"),
        s"graft_bkt_lineitem_$sfx", base + "/lineitem", buckets = 8,
        key = "l_orderkey")
      base
    }
    // hint("merge") pins SMJ so the plan is bucket-exercising at every SF
    // (a broadcast join at sf0.001 would also be shuffle-free, but then the
    // key wouldn't prove the bucketed layout carries the join).
    s.table(s"graft_bkt_orders_$sfx").hint("merge")
      .join(s.table(s"graft_bkt_lineitem_$sfx"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** Per-group mode (most frequent value) with a DETERMINISTIC tie-break
    * (count DESC, then value ASC) — built from a grouped count plus a
    * top-1 window over the GROUPED relation, never the raw rows, so the
    * window input is the distinct-value cardinality per group (small),
    * not the fact table. Native `mode()` aggregates leave ties
    * engine-defined, which a hash gate cannot accept — the explicit
    * rank is the cross-engine-deterministic formulation.
    */
  val aggMode = QueryDef(
    "agg_mode",
    """WITH c AS (
      |  SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY l_returnflag, v
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
      |                               ORDER BY cnt DESC, v) AS rn
      |  FROM c
      |)
      |SELECT l_returnflag, v AS mode_qty, cnt AS n_occurrences
      |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val c = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity").cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag").orderBy(col("cnt").desc, col("v"))
    c.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("v").as("mode_qty"),
        col("cnt").as("n_occurrences"))
      .orderBy("l_returnflag")
  }

  /** String aggregation with a DETERMINISTIC element order: DuckDB's
    * `string_agg(x, ',' ORDER BY x)` vs Spark's collect_list, whose order
    * is partition-dependent — `array_join(array_sort(...))` is the
    * hash-gate-safe formulation (and the one any distributed engine must
    * use: unordered concat is nondeterministic under parallelism). */
  val aggListagg = QueryDef(
    "agg_listagg",
    """SELECT r_regionkey,
      |       string_agg(n_name, ',' ORDER BY n_name) AS nations,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_regionkey ORDER BY r_regionkey""".stripMargin) { (s, d) =>
    Tables.nation(s, d)
      .join(Tables.region(s, d),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_regionkey")
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n"))
      .orderBy("r_regionkey")
  }

  /** Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other instead of vanishing — the semantic a plain equi join
    * cannot express. Keys are deterministically nulled (every 11th
    * customer, nation 3) so the null-match path is live at every SF;
    * the aggregate pins both the null-bucket and plain matches. */
  val joinNullSafe = QueryDef(
    "join_null_safe",
    """WITH c AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_nationkey END AS k
      |  FROM customer
      |), n AS (
      |  SELECT nullif(n_nationkey, 3) AS k, n_name FROM nation
      |)
      |SELECT coalesce(n_name, '<NULLKEY>') AS match_name,
      |       CAST(count(*) AS BIGINT) AS n_matches
      |FROM c JOIN n ON c.k IS NOT DISTINCT FROM n.k
      |GROUP BY match_name ORDER BY match_name""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
      .select(col("c_custkey"),
        when(col("c_custkey") % 11 === 0, lit(null)).otherwise(col("c_nationkey")).as("ck"))
    val n = Tables.nation(s, d)
      .select(nullif(col("n_nationkey"), lit(3)).as("nk"), col("n_name"))
    c.join(n, col("ck") <=> col("nk"))
      .groupBy(coalesce(col("n_name"), lit("<NULLKEY>")).as("match_name"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy("match_name")
  }

  /** Boolean/conditional aggregate surface: count_if, bool_and, bool_or
    * per group — all three are plain codegen aggregates with map-side
    * partials in both engines. */
  val aggBool = QueryDef(
    "agg_bool",
    """SELECT o_orderstatus,
      |       CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
      |       bool_and(o_totalprice > 0) AS all_positive,
      |       bool_or(o_orderpriority = '1-URGENT') AS any_urgent
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(count_if(col("o_totalprice") > 100000).as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"))
      .orderBy("o_orderstatus")
  }

  /** arg_min/arg_max surface (`min_by`/`max_by`): per segment the customer
    * name at the extreme acctbal. Native min_by/max_by leave ties
    * engine-defined, so the ordering value is made UNIQUE by construction:
    * acctbal-in-cents (exact — 2dp stored doubles) in the high digits,
    * custkey in the low digits, all in one BIGINT both engines compute
    * identically. The multiplier is 10^12, which keeps the packing
    * order-preserving for custkeys up to 10^12 (the documented 100 TB
    * range is ~1.5e10) while cents ≤ 10^6 keeps the product < 10^18 —
    * inside BIGINT; the in-plan assert_true trips if a future corpus
    * breaks the bound instead of silently reintroducing ties. One
    * two-phase aggregate, no window. */
  val aggArgMinmax = QueryDef(
    "agg_arg_minmax",
    """SELECT c_mktsegment,
      |  arg_max(c_name, CAST(round(c_acctbal * 100, 0) AS BIGINT) * 1000000000000
      |                  + c_custkey) AS name_max,
      |  arg_min(c_name, CAST(round(c_acctbal * 100, 0) AS BIGINT) * 1000000000000
      |                  + c_custkey) AS name_min,
      |  max(c_acctbal) AS bal_max,
      |  min(c_acctbal) AS bal_min
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
    (s, d) =>
      // assert_true evaluates inside the packing expression (not a
      // separate prunable column), so the custkey bound is checked on
      // every row the aggregate actually consumes — no extra job.
      val guarded = when(assert_true(col("c_custkey") < 1000000000000L,
        lit("agg_arg_minmax: c_custkey >= 10^12 breaks the ordering pack")).isNull,
        col("c_custkey"))
      val ord = (round(col("c_acctbal") * 100, 0).cast("long") * 1000000000000L +
        guarded).as("ord")
      Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(max_by(col("c_name"), ord).as("name_max"),
          min_by(col("c_name"), ord).as("name_min"),
          max(col("c_acctbal")).as("bal_max"),
          min(col("c_acctbal")).as("bal_min"))
        .orderBy("c_mktsegment")
  }

  /** Unpivot (melt) — the inverse of `agg_pivot`: a wide per-segment
    * aggregate relation turned into long (segment, metric, value) rows
    * via the native unpivot operator (a zero-shuffle projection+expand;
    * the only shuffle is the upstream aggregate's). All measures cast to
    * DOUBLE pre-melt — counts are < 2^53 so the cast is exact; the sum
    * goes through DECIMAL first per §2.9. The oracle spells it as the
    * dialect-portable stacked UNION ALL — same relation. */
  val aggUnpivot = QueryDef(
    "agg_unpivot",
    """WITH wide AS (
      |  SELECT c_mktsegment,
      |         CAST(count(*) AS DOUBLE) AS n_customers,
      |         CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal,
      |         max(c_acctbal) AS max_bal
      |  FROM customer GROUP BY c_mktsegment
      |)
      |SELECT c_mktsegment, metric, value FROM (
      |  SELECT c_mktsegment, 'n_customers' AS metric, n_customers AS value FROM wide
      |  UNION ALL
      |  SELECT c_mktsegment, 'sum_bal', sum_bal FROM wide
      |  UNION ALL
      |  SELECT c_mktsegment, 'max_bal', max_bal FROM wide
      |) ORDER BY c_mktsegment, metric""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).cast("double").as("n_customers"),
        sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"),
        max(col("c_acctbal")).as("max_bal"))
      .unpivot(Array(col("c_mktsegment")),
        Array(col("n_customers"), col("sum_bal"), col("max_bal")),
        "metric", "value")
      .orderBy("c_mktsegment", "metric")
  }

  /** grouping() flags over a rollup — the disambiguation surface the
    * plain rollup key cannot carry: a NULL group key and a rollup total
    * row are indistinguishable in the value columns alone; grouping()=1
    * marks the synthesized totals. The portable grouping id is computed
    * as 2·g1+g2 (both engines agree on grouping(); native grouping_id
    * bit order is engine-defined and never crosses the boundary). */
  val aggGroupingId = QueryDef(
    "agg_grouping_id",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(grouping(l_returnflag) AS INT) AS g_flag,
      |       CAST(grouping(l_linestatus) AS INT) AS g_status,
      |       CAST(2 * grouping(l_returnflag) + grouping(l_linestatus) AS INT) AS gid,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin) {
    (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          (grouping(col("l_returnflag")).cast("int") * 2 +
            grouping(col("l_linestatus")).cast("int")).as("gid"),
          count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("g_flag"),
          col("g_status"), col("gid"), col("n"), col("sum_qty"))
        .orderBy(col("g_flag"), col("g_status"),
          col("l_returnflag"), col("l_linestatus"))
  }

  /** Bounded sliding ROWS frame — the centered moving average (3
    * PRECEDING..3 FOLLOWING), the one frame shape no other window key
    * exercises (running = unbounded-preceding, first/last = unbounded
    * both ways, range/time = value-bounded). The frame is row-counted
    * over a TOTAL order (ts, event_id — unique), so frame membership is
    * engine-exact; the average is DECIMAL-exact sum ÷ frame count, both
    * engines dividing identical IEEE operands. Edge rows keep their
    * truncated frames (n_win < 7 pins the boundary semantics). */
  val windowMoving = QueryDef(
    "window_moving",
    """SELECT user_id, event_id,
      |       CAST(count(*) OVER w AS BIGINT) AS n_win,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
      |         / count(*) OVER w AS mov_avg
      |FROM events WHERE user_id % 10 = 0
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, 3)
    Tables.events(s, d)
      .filter(col("user_id") % 10 === 0)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_win"),
        (sum(dec(col("value"))).over(w).cast("double") /
          count(lit(1)).over(w)).as("mov_avg"))
      .orderBy("user_id", "event_id")
  }

  /** Linear-regression aggregates (the regr_slope/intercept/r2 surface)
    * — but NOT via the native regr_* functions, whose running double
    * sums are association-order-dependent and can never hash-match. The
    * hash-safe formulation converts both 2dp inputs to INTEGER CENTS,
    * aggregates the five moment sums exactly at DECIMAL scale 0, casts
    * each to DOUBLE at the boundary, and evaluates the closed-form
    * slope/intercept/r² on those identical IEEE operands with the
    * identical operation tree. Scale 0 is load-bearing: a fractional
    * DECIMAL above 2^53 double-rounds in DuckDB's cast (int128→double,
    * then ÷10^scale) but single-rounds in Java's — a measured one-ulp
    * operand split on Σy² that scale-0 integers cannot produce (both
    * engines correctly-round one integer). Slope is scale-free (the
    * cents factors cancel); intercept is de-scaled by 100 in the same
    * double tree. One two-phase hash aggregate; 5 numbers per group. */
  val aggRegression = QueryDef(
    "agg_regression",
    """WITH c AS (
      |  SELECT l_returnflag,
      |         CAST(round(l_quantity * 100, 0) AS BIGINT) AS xc,
      |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS yc
      |  FROM lineitem
      |), m AS (
      |  SELECT l_returnflag,
      |         CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(CAST(xc AS DECIMAL(38,0))) AS DOUBLE) AS sx,
      |         CAST(sum(CAST(yc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(xc * yc AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
      |         CAST(sum(CAST(xc * xc AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
      |         CAST(sum(CAST(yc * yc AS DECIMAL(38,0))) AS DOUBLE) AS syy
      |  FROM c GROUP BY l_returnflag
      |)
      |SELECT l_returnflag,
      |       CAST(n AS BIGINT) AS n,
      |       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
      |       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / 100 AS intercept,
      |       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
      |FROM m ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        round(col("l_quantity") * 100, 0).cast("long").as("xc"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("yc"))
    val m = base
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("xc").cast(dec0)).cast("double").as("sx"),
        sum(col("yc").cast(dec0)).cast("double").as("sy"),
        sum((col("xc") * col("yc")).cast(dec0)).cast("double").as("sxy"),
        sum((col("xc") * col("xc")).cast(dec0)).cast("double").as("sxx"),
        sum((col("yc") * col("yc")).cast(dec0)).cast("double").as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = num / den
    m.select(col("l_returnflag"),
        col("n").cast("long").as("n"),
        slope.as("slope"),
        ((col("sy") - slope * col("sx")) / col("n") / 100).as("intercept"),
        (num * num / (den * (col("n") * col("syy") - col("sy") * col("sy"))))
          .as("r2"))
      .orderBy("l_returnflag")
  }

  /** Bounded-horizon EWMA — the RECURSIVE smoothing the moving average
    * can't express (window_moving weighs the frame uniformly; EWMA
    * decays): smoothed_t = Σ_{k=0..7} 2^(7-k)·v_{t-k} / Σ 2^(7-k) over
    * the available lags, i.e. α = 1/2 exponential decay truncated at
    * horizon 8 and renormalized at sequence heads. The truncation is
    * what makes it hash-exact: the infinite recurrence accumulates
    * float error in order-dependent ways, while the 8-term form is a
    * finite weighted sum of INTEGER CENTS with power-of-two weights —
    * num and den are exact BIGINTs in both engines and the one boundary
    * division of identical IEEE operands is deterministic. Plan: one
    * window node (8 lags share the frame), one shuffle by user_id —
    * unchanged at 100 TB where the partition key is the series id. */
  val windowEwma = QueryDef(
    "window_ewma",
    {
      val lags = (1 to 7).map(k => s"lag(cents, $k) OVER w AS c$k").mkString(",\n      |    ")
      val num = "128 * c0 + " + (1 to 7).map(k => s"coalesce(${1L << (7 - k)} * c$k, 0)").mkString(" + ")
      val den = "128 + " + (1 to 7).map(k => s"CASE WHEN c$k IS NOT NULL THEN ${1L << (7 - k)} ELSE 0 END").mkString(" + ")
      s"""WITH c AS (
      |  SELECT user_id, event_id, ts,
      |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE user_id % 10 = 1
      |), l AS (
      |  SELECT user_id, event_id, cents AS c0,
      |    $lags
      |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, event_id, num, den,
      |       CAST(num AS DOUBLE) / (den * 100) AS ewma
      |FROM (
      |  SELECT user_id, event_id,
      |         CAST($num AS BIGINT) AS num,
      |         CAST($den AS BIGINT) AS den
      |  FROM l
      |) ORDER BY user_id, event_id""".stripMargin
    }) { (s, d) =>
    ewmaReport(Tables.events(s, d).filter(col("user_id") % 10 === 1))
      .orderBy("user_id", "event_id")
  }

  /** The EWMA kernel over an (user_id, event_id, ts, value) relation —
    * split out so EdgeSpec can pin the head-renormalization and weight
    * arithmetic on planted series. */
  def ewmaReport(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cents = (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
      .cast("long")
    val withLags = events
      .withColumn("cents", cents)
      .select(Seq(col("user_id"), col("event_id"), col("cents").as("c0")) ++
        (1 to 7).map(k => lag(col("cents"), k).over(w).as(s"c$k")): _*)
    val num = (lit(128L) * col("c0")) +
      (1 to 7).map(k => coalesce(lit(1L << (7 - k)) * col(s"c$k"), lit(0L))).reduce(_ + _)
    val den = lit(128L) +
      (1 to 7).map(k =>
        when(col(s"c$k").isNotNull, lit(1L << (7 - k))).otherwise(lit(0L))).reduce(_ + _)
    withLags
      .select(col("user_id"), col("event_id"),
        num.cast("long").as("num"), den.cast("long").as("den"))
      .withColumn("ewma", col("num").cast("double") / (col("den") * 100))
  }

  /** ROBUST rolling statistics — median + MAD over the centered 7-row
    * frame, the outlier detector that survives what the mean-based ones
    * can't (a single spike drags a rolling mean and its σ, so z-score
    * flags its own neighbors; the median/MAD pair is 50%-breakdown):
    * flag where |x − med| > 3·MAD. EVERYTHING stays integer via the
    * doubled-median trick: med_x2 = the two middle order statistics'
    * sum (= 2·median for odd AND even frames), deviations |2x − med_x2|
    * (= 2·|x − med|), mad_x4 = their doubled median (= 4·MAD), and the
    * flag is 2·|2x − med_x2| > 3·mad_x4 — cross-multiplied, no float
    * ever forms, both engines agree bit-for-bit. Plan: one window node
    * (frame collect + sort of ≤ 7 elements per row), one user_id
    * shuffle — the window_moving shape with array-order statistics. */
  val windowRobustStats = QueryDef(
    "window_robust_stats",
    """WITH c AS (
      |  SELECT user_id, event_id, ts,
      |         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE user_id % 10 = 3
      |), f AS (
      |  SELECT user_id, event_id, cents, list_sort(list(cents) OVER w) AS a
      |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), m AS (
      |  SELECT user_id, event_id, cents, CAST(len(a) AS BIGINT) AS n_frame,
      |    a[(len(a)+1)//2] + a[len(a)//2+1] AS med_x2,
      |    list_sort(list_transform(a,
      |      x -> abs(2*x - (a[(len(a)+1)//2] + a[len(a)//2+1])))) AS dv
      |  FROM f
      |)
      |SELECT user_id, event_id, cents, n_frame,
      |  CAST(med_x2 AS BIGINT) AS med_x2,
      |  CAST(dv[(n_frame+1)//2] + dv[n_frame//2+1] AS BIGINT) AS mad_x4,
      |  2 * abs(2*cents - med_x2) > 3 * (dv[(n_frame+1)//2] + dv[n_frame//2+1])
      |    AS is_outlier
      |FROM m ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-3, 3)
    Tables.events(s, d)
      .filter(col("user_id") % 10 === 3)
      .withColumn("cents",
        (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
          .cast("long"))
      .withColumn("a", sort_array(collect_list(col("cents")).over(w)))
      .select(col("user_id"), col("event_id"), col("cents"),
        size(col("a")).cast("long").as("n_frame"),
        expr("a[((size(a)+1) div 2) - 1] + a[(size(a) div 2 + 1) - 1]").as("med_x2"),
        expr("sort_array(transform(a, x -> abs(2*x - " +
          "(a[((size(a)+1) div 2) - 1] + a[(size(a) div 2 + 1) - 1]))))").as("dv"))
      .select(col("user_id"), col("event_id"), col("cents"), col("n_frame"),
        col("med_x2"),
        expr("dv[((n_frame+1) div 2) - 1] + dv[(n_frame div 2 + 1) - 1]").as("mad_x4"))
      .withColumn("is_outlier",
        lit(2) * abs(lit(2) * col("cents") - col("med_x2")) > lit(3) * col("mad_x4"))
      .orderBy("user_id", "event_id")
  }

  val all: Seq[QueryDef] = Seq(aggStats, windowDistribution, fnConditional,
    joinFull, joinCross, aggPivot, aggPercentile,
    aggCorr, fnBitwise, windowFirstLast, aggHistogram, joinBucketed, aggMode,
    aggListagg, joinNullSafe, aggBool, aggArgMinmax, aggUnpivot, aggGroupingId,
    windowMoving, aggRegression, windowEwma, windowRobustStats)
}
